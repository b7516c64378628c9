"""Registry part 7 — source/sink surface: the two-round incremental
ledger runner (the reference's daily micro-batch made literal), a
partitioned sink with partition-pruned reads, and CSV/JSON round-trips.

All scratch writes go under the repo-local ``.scratch`` dir keyed by
sf_dir and are idempotent (overwrite) so repeated driver/test runs are
deterministic.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from .functions.checksum import row_checksum
from .operators.delta import delta_split
from .queries import _key, _t, q
from .streaming.events import SCRATCH


# ===========================================================================
# two-round incremental ledger (SURVEY §1.4 made literal)
# ===========================================================================

@q(
    "q63_incremental_ledger",
    oracle="""
WITH incoming AS (
  SELECT doc_id, 'd' || CAST(doc_id AS VARCHAR) AS lookup_key,
    CASE WHEN doc_id % 10 = 0 THEN text || ' v2' ELSE text END AS text
  FROM documents
),
hashed AS (
  SELECT *, md5(concat_ws(chr(31), coalesce(lookup_key, ''), coalesce(text, '')))
    AS row_hash
  FROM incoming
),
ledger AS (
  SELECT 'd' || CAST(doc_id AS VARCHAR) AS lookup_key,
    md5(concat_ws(chr(31), 'd' || CAST(doc_id AS VARCHAR), coalesce(text, '')))
      AS row_hash
  FROM documents WHERE doc_id % 3 <> 0
)
SELECT
  CASE
    WHEN NOT EXISTS (SELECT 1 FROM ledger l WHERE l.lookup_key = h.lookup_key)
      THEN 'new'
    ELSE 'changed'
  END AS change_type,
  COUNT(*) AS n_rows
FROM hashed h
WHERE NOT EXISTS (SELECT 1 FROM ledger l
  WHERE l.lookup_key = h.lookup_key AND l.row_hash = h.row_hash)
GROUP BY 1
""",
)
def q63_incremental_ledger(spark, sf_dir):
    """The reference's daily incremental run as two literal rounds with
    a PERSISTED parquet ledger (the raw state table, SURVEY §1.4):

    round 1 scans a partial corpus and writes the (lookup_key,
    row_hash) ledger; round 2 re-scans the full corpus with 10% of
    rows mutated, reads the ledger BACK FROM DISK, and routes rows via
    the H2 anti-join delta — new keys vs changed content classified by
    a ledger-key probe. At 100 TB the ledger is a keyed table; both
    the write and the probe shard by lookup_key."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    lk = F.concat(F.lit("d"), F.col("doc_id").cast("string")).alias("lookup_key")

    # --- round 1: partial corpus -> ledger on disk
    r1 = docs.filter(F.col("doc_id") % 3 != 0).select(lk, "text")
    r1 = r1.withColumn("row_hash", row_checksum(["lookup_key", "text"]))
    ledger_path = os.path.join(SCRATCH, f"ledger_{_key(sf_dir)}")
    r1.select("lookup_key", "row_hash").write.mode("overwrite").parquet(ledger_path)

    # --- round 2: full corpus, 10% mutated, delta vs the disk ledger
    incoming = docs.select(
        "doc_id",
        lk,
        F.when(F.col("doc_id") % 10 == 0, F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text"))
        .alias("text"),
    ).withColumn("row_hash", row_checksum(["lookup_key", "text"]))
    state = spark.read.parquet(ledger_path)
    changed, _bypass = delta_split(incoming, state, "lookup_key")

    known_keys = state.select("lookup_key").distinct()
    return (
        changed.join(known_keys, on="lookup_key", how="left_anti")
        .select(F.lit("new").alias("change_type"))
        .unionByName(
            changed.join(known_keys, on="lookup_key", how="left_semi").select(
                F.lit("changed").alias("change_type")
            )
        )
        .groupBy("change_type")
        .agg(F.count("*").alias("n_rows"))
    )


# ===========================================================================
# partitioned sink + partition-pruned scan
# ===========================================================================

@q(
    "q64_partitioned_sink",
    oracle="""
SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_events,
  COUNT(DISTINCT user_id) AS n_users
FROM events WHERE event_type = 'purchase'
GROUP BY 1
""",
)
def q64_partitioned_sink(spark, sf_dir):
    """Hive-partitioned sink + pruned re-scan: events written
    partitioned by event_type, then read back filtered to one
    partition — the scan touches 1/5 of the files (PartitionFilters,
    asserted in tests). This is the layout contract for 100 TB sinks:
    partition by the dominant filter column, never by a high-
    cardinality key."""
    ev = _t(spark, sf_dir, "events")
    out = os.path.join(SCRATCH, f"events_by_type_{_key(sf_dir)}")
    # always write: the sink is part of what this query measures, and an
    # unconditional overwrite means stale scratch from older code can
    # never be read back (round-3 advice).
    (
        ev.select("event_id", "user_id", F.col("ts").cast("timestamp"), "event_type")
        .write.partitionBy("event_type")
        .mode("overwrite")
        .parquet(out)
    )
    back = spark.read.parquet(out).filter(F.col("event_type") == "purchase")
    return back.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


# ===========================================================================
# CSV / JSON round-trips
# ===========================================================================

@q(
    "q65_json_roundtrip",
    oracle="""
SELECT lang, source, COUNT(*) AS n_docs,
  CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY lang, source
""",
)
def q65_json_roundtrip(spark, sf_dir):
    """JSON-lines sink + schema-explicit source: documents written as
    JSONL and read back with the declared schema (never inferSchema at
    scale — it is a full extra pass), aggregated to prove value
    fidelity against the parquet original."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source", "n_chars")
    out = os.path.join(SCRATCH, f"docs_jsonl_{_key(sf_dir)}")
    docs.write.mode("overwrite").json(out)
    back = spark.read.schema(
        "doc_id long, lang string, source string, n_chars long"
    ).json(out)
    return back.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


@q(
    "q66_csv_roundtrip",
    oracle="""
SELECT o_orderstatus,
  COUNT(*) AS n_orders,
  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,6)) AS DOUBLE)
    AS total
FROM orders GROUP BY o_orderstatus
""",
)
def q66_csv_roundtrip(spark, sf_dir):
    """CSV sink + typed source round-trip on orders (doubles cross the
    text boundary via shortest-round-trip repr, so the decimal-funneled
    sum still matches the parquet original exactly)."""
    from .functions.numeric import exact_sum

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    out = os.path.join(SCRATCH, f"orders_csv_{_key(sf_dir)}")
    o.write.mode("overwrite").option("header", "true").csv(out)
    back = spark.read.schema(
        "o_orderkey long, o_orderstatus string, o_totalprice double"
    ).option("header", "true").csv(out)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        exact_sum("o_totalprice", 18, 2).alias("total"),
    )


# ===========================================================================
# multi-round incremental runner with short-circuit (F1/F2 literal)
# ===========================================================================

@q(
    "q79_incremental_rounds",
    oracle="""
WITH r1 AS (
  SELECT COUNT(*) AS n FROM documents WHERE doc_id % 3 <> 0
),
r2 AS (
  SELECT COUNT(*) AS n FROM documents
  WHERE doc_id % 3 = 0 OR doc_id % 10 = 0
)
SELECT CAST(1 AS BIGINT) AS round, CAST(r1.n AS BIGINT) AS n_changed,
  false AS short_circuited FROM r1
UNION ALL
SELECT 2, r2.n, false FROM r2
UNION ALL
SELECT 3, 0, true
""",
)
def q79_incremental_rounds(spark, sf_dir):
    """Three literal incremental rounds against one persisted ledger —
    the reference's daily loop with its empty-delta short-circuit
    (F1/F2 ShortCircuitOperator) as a driver-side count gate:

    round 1: partial corpus vs empty ledger (everything is new);
    round 2: full corpus, 10% mutated -> new keys + changed content;
    round 3: identical re-scan -> EMPTY delta -> downstream (upsert)
    is SKIPPED entirely — the only driver-side data access is the
    gate count, per the no-collect rule."""
    from .operators.merge import merge_upsert

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    lk = F.concat(F.lit("d"), F.col("doc_id").cast("string")).alias("lookup_key")
    ledger_path = os.path.join(SCRATCH, f"ledger3_{_key(sf_dir)}")

    def hashed(df):
        return df.withColumn("row_hash", row_checksum(["lookup_key", "text"]))

    r1 = hashed(docs.filter(F.col("doc_id") % 3 != 0).select(lk, "text"))
    r2full = hashed(
        docs.select(
            "doc_id",
            lk,
            F.when(F.col("doc_id") % 10 == 0, F.concat(F.col("text"), F.lit(" v2")))
            .otherwise(F.col("text"))
            .alias("text"),
        ).select("lookup_key", "text")
    )

    results = []
    # round 1: empty ledger — every row is a change
    n1 = r1.count()
    r1.select("lookup_key", "row_hash").write.mode("overwrite").parquet(ledger_path)
    results.append((1, n1, False))

    # rounds 2 and 3 share the same incoming batch; round 3's delta is
    # empty and short-circuits the ledger upsert
    for rnd in (2, 3):
        state = spark.read.parquet(ledger_path)
        changed, _ = delta_split(r2full, state, "lookup_key")
        n = changed.count()  # the F1/F2 gate — counts only, no collect
        if n == 0:
            results.append((rnd, 0, True))
            continue
        merged = merge_upsert(
            state, changed.select("lookup_key", "row_hash"), "lookup_key"
        )
        tmp = ledger_path + ".tmp"
        merged.write.mode("overwrite").parquet(tmp)
        import shutil

        shutil.rmtree(ledger_path)
        os.rename(tmp, ledger_path)
        results.append((rnd, n, False))

    return spark.createDataFrame(
        results, "round long, n_changed long, short_circuited boolean"
    )


# ===========================================================================
# corrupt-record quarantine routing
# ===========================================================================

@q(
    "q80_quarantine_routing",
    oracle="""
WITH tagged AS (
  SELECT event_id,
    CASE WHEN event_id % 97 = 0 THEN '{bad' ELSE props END AS props
  FROM events
),
parsed AS (
  SELECT event_id,
    CASE WHEN json_valid(props)
      THEN CAST(json_extract_string(props, '$.k') AS BIGINT) END AS k
  FROM tagged
)
SELECT CASE WHEN k IS NULL THEN 'quarantine' ELSE 'valid' END AS route,
  COUNT(*) AS n_rows,
  CAST(coalesce(SUM(k), 0) AS BIGINT) AS sum_k
FROM parsed GROUP BY 1
""",
)
def q80_quarantine_routing(spark, sf_dir):
    """Bad-record quarantine — the error-routing half of any 100 TB
    ingest: a planted corruption (1/97th of props made invalid JSON)
    is parsed with from_json (null on malformed input, the PERMISSIVE
    contract), rows split into valid vs quarantine routes, and both
    routes aggregated. At scale the quarantine route is a dead-letter
    sink, never an abort — one poisoned record must not kill a
    multi-hour job."""
    ev = _t(spark, sf_dir, "events").select("event_id", "props")
    tagged = ev.withColumn(
        "props",
        F.when(F.col("event_id") % 97 == 0, F.lit("{bad")).otherwise(F.col("props")),
    )
    parsed = tagged.withColumn(
        "k", F.from_json("props", "struct<k:long>").getField("k")
    )
    return (
        parsed.withColumn(
            "route",
            F.when(F.col("k").isNull(), F.lit("quarantine")).otherwise(F.lit("valid")),
        )
        .groupBy("route")
        .agg(
            F.count("*").alias("n_rows"),
            F.coalesce(F.sum("k"), F.lit(0)).cast("long").alias("sum_k"),
        )
    )


# ===========================================================================
# ORC sink + source round-trip (the third bundled columnar format)
# ===========================================================================

@q(
    "q100_orc_roundtrip",
    oracle="""
SELECT l_returnflag, l_linestatus,
  COUNT(*) AS n_rows,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS BIGINT) AS sum_qty_scaled
FROM (
  SELECT l_returnflag, l_linestatus, l_quantity * 100 AS l_quantity
  FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
) GROUP BY l_returnflag, l_linestatus
""",
)
def q100_orc_roundtrip(spark, sf_dir):
    """ORC sink + source round-trip on lineitem (columnar format #3
    after parquet/CSV/JSON): the filtered projection is written ORC,
    read back, and aggregated — quantities integer-scaled (×100) before
    the boundary so the sum is exact on every engine and unaffected by
    the format's float handling."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date"))
        .select(
            "l_returnflag",
            "l_linestatus",
            (F.col("l_quantity") * 100).cast("decimal(18,2)").alias("l_quantity"),
        )
    )
    out = os.path.join(SCRATCH, f"lineitem_orc_{_key(sf_dir)}")
    li.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return back.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_rows"),
        F.sum("l_quantity").cast("long").alias("sum_qty_scaled"),
    )
