"""Named query registry — the engine's public query surface.

Every operator family from SURVEY.md §2 (and the north-star
LLM-pipeline operators) is exercised by a named query over the driver
test tables, each paired with a DuckDB oracle SQL string that computes
the same result. The driver compares row count + schema +
order-insensitive value hash at sf=0.01.

Cross-engine determinism rules used throughout (see
``functions/numeric.py`` and ``functions/checksum.py``):
- double SUM/AVG go through DECIMAL (exact) and cast back to double;
- double columns entering checksums are canonicalized to integral
  hundredths;
- ranking windows always carry a unique tiebreak column;
- similarity scores are rounded before ranking;
- counts/lengths are cast to BIGINT on the Spark side where DuckDB
  returns BIGINT.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.checksum import checksum_sql, row_checksum
from .functions.numeric import (
    dec,
    exact_avg,
    exact_sum,
    sql_exact_avg,
    sql_exact_sum,
    sql_to_double,
    to_double,
)
from .operators import dedup as D
from .operators import merge as M
from .operators.delta import delta_split
from .session import prepare
from .sources.tables import load_table


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL, None => rows-only check


REGISTRY: dict[str, QuerySpec] = {}


def q(name: str, oracle: str | None = None):
    def deco(fn):
        REGISTRY[name] = QuerySpec(fn, oracle)
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    prepare(spark)
    return load_table(spark, sf_dir, name)


def _key(sf_dir: str) -> str:
    """``sf_dir`` as a file-name-safe suffix for a query's scratch
    tables and view names."""
    return sf_dir.rstrip("/").replace("/", "_").lstrip("_").replace(".", "_")


# ===========================================================================
# §2.7 relational surface: aggregation
# ===========================================================================

@q(
    "q01_pricing_summary",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
  {sql_exact_sum('l_quantity', 18, 2)} AS sum_qty,
  {sql_exact_sum('l_extendedprice', 18, 2)} AS sum_base_price,
  {sql_to_double("SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * CAST(1 - l_discount AS DECIMAL(8,4)))")} AS sum_disc_price,
  {sql_to_double("SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * CAST(1 - l_discount AS DECIMAL(8,4)) * CAST(1 + l_tax AS DECIMAL(8,4)))")} AS sum_charge,
  {sql_exact_avg('l_quantity')} AS avg_qty,
  {sql_exact_avg('l_extendedprice')} AS avg_price,
  {sql_exact_avg('l_discount', 18, 6)} AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
)
def q01_pricing_summary(spark, sf_dir):
    """TPC-H Q1-shaped hash aggregation (generalizes the reference's
    delta-count/error-rate math, SURVEY §2.7). Partial aggregation is
    map-side; one shuffle on the 2-col group key."""
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz")
    )
    disc_price = dec("l_extendedprice", 12, 4) * (F.lit(1) - F.col("l_discount")).cast(
        "decimal(8,4)"
    )
    charge = disc_price * (F.lit(1) + F.col("l_tax")).cast("decimal(8,4)")
    return l.groupBy("l_returnflag", "l_linestatus").agg(
        exact_sum("l_quantity", 18, 2).alias("sum_qty"),
        exact_sum("l_extendedprice", 18, 2).alias("sum_base_price"),
        to_double(F.sum(disc_price)).alias("sum_disc_price"),
        to_double(F.sum(charge)).alias("sum_charge"),
        exact_avg("l_quantity").alias("avg_qty"),
        exact_avg("l_extendedprice").alias("avg_price"),
        exact_avg("l_discount", 18, 6).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


@q(
    "q02_revenue_by_nation",
    oracle=f"""
SELECT n.n_name,
  {sql_exact_sum('o.o_totalprice', 18, 2)} AS revenue,
  COUNT(*) AS n_orders
FROM orders o
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
""",
)
def q02_revenue_by_nation(spark, sf_dir):
    """Multi-way join with broadcast dimensions (generalizes the
    reference's state probe H5 — build side in memory = broadcast
    hash join). Only the orders⋈customer join shuffles; nation and
    region are broadcast."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    r = F.broadcast(_t(spark, sf_dir, "region"))
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .filter(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(
            exact_sum("o_totalprice", 18, 2).alias("revenue"),
            F.count("*").alias("n_orders"),
        )
    )


@q(
    "q03_top_orders",
    oracle="""
SELECT o.o_orderkey,
  CAST(o.o_orderdate AS DATE) AS orderdate,
  CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,4)) * CAST(1 - l.l_discount AS DECIMAL(8,4))) AS DECIMAL(38,6)) AS DOUBLE) AS revenue
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-06-15'
  AND l.l_shipdate > TIMESTAMP '1996-06-15'
GROUP BY o.o_orderkey, CAST(o.o_orderdate AS DATE)
ORDER BY revenue DESC, o_orderkey
LIMIT 10
""",
)
def q03_top_orders(spark, sf_dir):
    """Join + aggregate + deterministic TopK (U3 generalized: the
    reference's head-limit gains an explicit total order). TopK is a
    partial per-partition limit then a single-reducer merge of 10
    rows — no full sort at scale."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-06-15").cast("timestamp_ntz")
    )
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-06-15").cast("timestamp_ntz")
    )
    revenue = dec("l_extendedprice", 12, 4) * (F.lit(1) - F.col("l_discount")).cast(
        "decimal(8,4)"
    )
    return (
        c.join(o, o.o_custkey == c.c_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", F.col("o_orderdate").cast("date").alias("orderdate"))
        .agg(to_double(F.sum(revenue)).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "o_orderkey")
        .limit(10)
    )


@q(
    "q04_priority_semi",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 48
)
GROUP BY o_orderpriority
""",
)
def q04_priority_semi(spark, sf_dir):
    """Left-semi join (EXISTS) — the 'bypass' side of the reference's
    delta routing H3 (``dags/scraping_etl.py:68-69``) generalized."""
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 48)
    return (
        o.join(l, o.o_orderkey == l.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


@q(
    "q05_customers_without_orders",
    oracle="""
SELECT n.n_name, COUNT(*) AS n_customers
FROM customer c
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY n.n_name
""",
)
def q05_customers_without_orders(spark, sf_dir):
    """Left-anti join (NOT EXISTS) — the 'new-or-changed' side of
    delta detection H2 generalized."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.count("*").alias("n_customers"))
    )


@q(
    "q06_revenue_forecast",
    oracle="""
SELECT
  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * CAST(l_discount AS DECIMAL(8,4))) AS DECIMAL(38,6)) AS DOUBLE) AS revenue,
  COUNT(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.02 AND 0.09
  AND l_quantity < 24
""",
)
def q06_revenue_forecast(spark, sf_dir):
    """TPC-H Q6-shaped scan-filter-agg. All four predicates push down
    to the parquet scan; no shuffle at all (single global agg)."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("l_discount") >= 0.02)
            & (F.col("l_discount") <= 0.09)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            to_double(F.sum(dec("l_extendedprice", 12, 4) * dec("l_discount", 8, 4)))
            .alias("revenue"),
            F.count("*").alias("n_rows"),
        )
    )


# ===========================================================================
# windows / dedup / ordering
# ===========================================================================

@q(
    "q07_first_wins_dedup",
    oracle="""
SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
FROM (
  SELECT l_orderkey, l_linenumber, l_partkey, l_quantity,
    ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey, l_quantity) AS rn
  FROM lineitem
) WHERE rn = 1
""",
)
def q07_first_wins_dedup(spark, sf_dir):
    """H4 deterministic first-wins dedup — the reference's
    first-record-per-pk (``src/storage.py:108-117``) as a keyed
    ranking window (SURVEY §7.3: never ``dropDuplicates`` on a hot
    path — shuffle order is nondeterministic)."""
    l = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_quantity"
    )
    return D.first_wins(l, ["l_orderkey"], ["l_linenumber", "l_partkey", "l_quantity"])


@q(
    "q08_customer_order_analytics",
    oracle="""
SELECT o_custkey, o_orderkey, o_totalprice,
  LAG(o_totalprice) OVER w AS prev_price,
  LEAD(o_totalprice) OVER w AS next_price,
  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(38,6)) AS DOUBLE) AS running_spend,
  ROW_NUMBER() OVER w AS order_idx
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
)
def q08_customer_order_analytics(spark, sf_dir):
    """Analytic window family: lag/lead/row_number + a running frame
    (rowsBetween). Always partitioned (by customer) so state shards;
    unique (date, orderkey) tiebreak keeps it deterministic."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        to_double(F.sum(dec("o_totalprice", 18, 2)).over(wf)).alias("running_spend"),
        F.row_number().over(w).cast("long").alias("order_idx"),
    )


@q(
    "q09_rollup_priority",
    oracle=f"""
SELECT coalesce(o_orderpriority, 'ALL') AS priority,
  coalesce(o_orderstatus, 'ALL') AS status,
  CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
  CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
  COUNT(*) AS n_orders,
  {sql_exact_sum('o_totalprice', 18, 2)} AS total
FROM orders
GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
""",
)
def q09_rollup_priority(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.count("*").alias("n_orders"),
            exact_sum("o_totalprice", 18, 2).alias("total"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            "g_priority",
            "g_status",
            "n_orders",
            "total",
        )
    )


@q(
    "q10_cube_flags",
    oracle=f"""
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
  coalesce(l_linestatus, 'ALL') AS linestatus,
  CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
  CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
  COUNT(*) AS n_rows,
  {sql_exact_sum('l_quantity', 18, 2)} AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
)
def q10_cube_flags(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("int").alias("g_rf"),
            F.grouping("l_linestatus").cast("int").alias("g_ls"),
            F.count("*").alias("n_rows"),
            exact_sum("l_quantity", 18, 2).alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "g_rf",
            "g_ls",
            "n_rows",
            "sum_qty",
        )
    )


@q(
    "q11_set_ops",
    oracle="""
WITH hv AS (SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_totalprice > 300000),
bld AS (SELECT DISTINCT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING')
SELECT custkey, 'in_both' AS tag FROM (SELECT custkey FROM hv INTERSECT SELECT custkey FROM bld)
UNION ALL
SELECT custkey, 'only_highvalue' AS tag FROM (SELECT custkey FROM hv EXCEPT SELECT custkey FROM bld)
UNION ALL
SELECT custkey, 'only_building' AS tag FROM (SELECT custkey FROM bld EXCEPT SELECT custkey FROM hv)
""",
)
def q11_set_ops(spark, sf_dir):
    """U1 generalized to the full set-op family:
    intersect/except/union (distinct semantics on both engines)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    hv = o.filter(F.col("o_totalprice") > 300000).select(
        F.col("o_custkey").alias("custkey")
    ).distinct()
    bld = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    ).distinct()
    return (
        hv.intersect(bld).withColumn("tag", F.lit("in_both"))
        .unionByName(hv.exceptAll(bld).distinct().withColumn("tag", F.lit("only_highvalue")))
        .unionByName(bld.exceptAll(hv).distinct().withColumn("tag", F.lit("only_building")))
    )


# ===========================================================================
# §2.3 incremental ETL patterns: checksum, delta, merge
# ===========================================================================

_DELTA_HASH_SQL = checksum_sql(
    [
        "CAST(o_orderkey AS VARCHAR)",
        "o_orderstatus",
        "CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR)",
    ],
    sort_names=False,
)

_STATE_HASH_SQL = checksum_sql(
    [
        "CAST(o_orderkey AS VARCHAR)",
        "o_orderstatus",
        "CAST(CAST(round(o_totalprice * 100) AS BIGINT) + CASE WHEN o_orderkey % 100 < 5 THEN 1 ELSE 0 END AS VARCHAR)",
    ],
    sort_names=False,
)


@q(
    "q12_delta_detection",
    oracle=f"""
WITH incoming AS (
  SELECT o_orderkey, {_DELTA_HASH_SQL} AS row_hash FROM orders
),
state AS (
  SELECT o_orderkey, {_STATE_HASH_SQL} AS row_hash
  FROM orders WHERE o_orderkey % 10 <> 7
),
changed AS (
  SELECT i.* FROM incoming i
  WHERE NOT EXISTS (
    SELECT 1 FROM state s
    WHERE s.o_orderkey = i.o_orderkey AND s.row_hash = i.row_hash
  )
)
SELECT c.o_orderkey, c.row_hash,
  CASE WHEN EXISTS (SELECT 1 FROM state s WHERE s.o_orderkey = c.o_orderkey)
       THEN 'changed' ELSE 'new' END AS change_type
FROM changed c
""",
)
def q12_delta_detection(spark, sf_dir):
    """The heart of the reference (H1+H2+H3): canonical checksum +
    anti-join delta split, replayed on `orders` — the 'state' ledger is
    a synthetic prior scan missing keys ≡7 (mod 10) ('new') and
    carrying perturbed hashes for keys ≡0..4 (mod 100) ('changed').
    Reference: ``dags/scraping_etl.py:59-69``, ``src/storage.py:67-74``."""
    o = _t(spark, sf_dir, "orders")
    price_c = F.round(F.col("o_totalprice") * 100).cast("long")
    incoming = o.select(
        "o_orderkey",
        row_checksum(
            [
                F.col("o_orderkey").cast("string"),
                F.col("o_orderstatus"),
                price_c.cast("string"),
            ],
            sort_names=False,
        ).alias("row_hash"),
    )
    mutated_price = price_c + F.when((F.col("o_orderkey") % 100) < 5, 1).otherwise(0)
    state = o.filter(F.col("o_orderkey") % 10 != 7).select(
        "o_orderkey",
        row_checksum(
            [
                F.col("o_orderkey").cast("string"),
                F.col("o_orderstatus"),
                mutated_price.cast("string"),
            ],
            sort_names=False,
        ).alias("row_hash"),
    )
    changed, _bypass = delta_split(incoming, state, "o_orderkey")
    # no distinct: `state` is one row per o_orderkey by construction
    # (orders is unique on its key; the filter only removes rows), so
    # the membership probe needs no dedup — dropping it removes a
    # HashAggregate+Exchange pair from the plan (r16, guide §2.4)
    state_keys = state.select("o_orderkey")
    return (
        changed.join(state_keys.withColumn("__seen", F.lit(1)), "o_orderkey", "left")
        .select(
            "o_orderkey",
            "row_hash",
            F.when(F.col("__seen").isNotNull(), F.lit("changed"))
            .otherwise(F.lit("new"))
            .alias("change_type"),
        )
    )


@q(
    "q28_merge_upsert",
    oracle="""
WITH target AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 7 <> 0
),
source AS (
  SELECT o_orderkey, 'UPDATED' AS o_orderstatus, o_totalprice + 1000 AS o_totalprice
  FROM orders WHERE o_orderkey % 3 = 0
)
SELECT * FROM source
UNION ALL
SELECT t.* FROM target t
WHERE NOT EXISTS (SELECT 1 FROM source s WHERE s.o_orderkey = t.o_orderkey)
""",
)
def q28_merge_upsert(spark, sf_dir):
    """S10 upsert emulated as source ∪ (target ⟕-anti source) — the
    reference's ON CONFLICT DO UPDATE (``src/storage.py:41-53``)."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    target = o.filter(F.col("o_orderkey") % 7 != 0)
    source = o.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        F.lit("UPDATED").alias("o_orderstatus"),
        (F.col("o_totalprice") + 1000).alias("o_totalprice"),
    )
    return M.merge_upsert(target, source, "o_orderkey")


@q(
    "q29_union_accreted",
    oracle="""
SELECT o_orderkey, o_orderstatus, 'note-' || CAST(o_orderkey AS VARCHAR) AS detail_note
FROM orders WHERE o_orderkey % 2 = 0
UNION ALL
SELECT o_orderkey, o_orderstatus, CAST(NULL AS VARCHAR) AS detail_note
FROM orders WHERE o_orderkey % 2 = 1
""",
)
def q29_union_accreted(spark, sf_dir):
    """U1: union of the detailed stream (extra accreted columns) and
    the bypass stream (reference ``dags/scraping_etl.py:108-114``) via
    unionByName(allowMissingColumns=True)."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    detailed = o.filter(F.col("o_orderkey") % 2 == 0).withColumn(
        "detail_note", F.concat(F.lit("note-"), F.col("o_orderkey").cast("string"))
    )
    bypass = o.filter(F.col("o_orderkey") % 2 == 1)
    return M.union_accreted(detailed, bypass)


@q(
    "q30_keyed_multiget",
    oracle="""
SELECT c_custkey, c_name, c_nationkey, c_acctbal
FROM customer
WHERE c_custkey IN (1, 5, 10, 25, 50, 99)
""",
)
def q30_keyed_multiget(spark, sf_dir):
    """S8 keyed multi-get (``WHERE key = ANY(...)``, reference
    ``src/storage.py:76-88``) — an IN-list pushed into the scan."""
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )
    return M.keyed_multi_get(c, "c_custkey", [1, 5, 10, 25, 50, 99])


_Q31_FIELDS = ["l_linenumber", "l_linestatus", "l_orderkey", "l_returnflag"]


@q(
    "q31_row_checksum",
    oracle=f"""
SELECT l_orderkey, l_linenumber,
  {checksum_sql(_Q31_FIELDS, sort_names=False)} AS row_hash
FROM lineitem
""",
)
def q31_row_checksum(spark, sf_dir):
    """H1 canonical checksum, attached to every row like the
    reference's list-stage ``row_hash``
    (``src/scrapers/scraper.py:53-56,100-101``); field names sorted =
    ``sort_keys=True`` semantics."""
    l = _t(spark, sf_dir, "lineitem")
    return l.select(
        "l_orderkey",
        "l_linenumber",
        row_checksum(
            ["l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus"]
        ).alias("row_hash"),
    )


# ---------------------------------------------------------------------------
# registry parts 2 & 3 register themselves on import (kept at the bottom so
# `q`/`_t` exist when they import back into this module)
# ---------------------------------------------------------------------------
from . import queries_text  # noqa: E402,F401
from . import queries_llm  # noqa: E402,F401
from . import queries_ext  # noqa: E402,F401
from . import queries_stream  # noqa: E402,F401
from . import queries_ml  # noqa: E402,F401
from . import queries_scale  # noqa: E402,F401
from . import queries_io  # noqa: E402,F401
from . import queries_adv  # noqa: E402,F401
from . import queries_r2  # noqa: E402,F401
from . import queries_r3  # noqa: E402,F401
from . import queries_r5  # noqa: E402,F401
from . import queries_r6  # noqa: E402,F401
from . import queries_r7  # noqa: E402,F401
from . import queries_r8  # noqa: E402,F401
from . import queries_r9  # noqa: E402,F401
from . import queries_r9b  # noqa: E402,F401
from . import queries_r9c  # noqa: E402,F401
from . import queries_r10  # noqa: E402,F401
from . import queries_r11  # noqa: E402,F401
from . import queries_r12  # noqa: E402,F401
from . import queries_r13  # noqa: E402,F401
from . import queries_r14  # noqa: E402,F401
from . import queries_r15  # noqa: E402,F401
