"""Registry part 8 — advanced execution patterns: salted skew join,
the SQL entry surface, co-grouped pandas, and the streaming
foreachBatch upsert sink (the reference's storage phase as a streaming
writer).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from .functions.numeric import exact_sum, sql_exact_sum
from .operators.skew import salted_join
from .queries import _key, _t, q


# ===========================================================================
# salted skew join
# ===========================================================================

@q(
    "q67_salted_join",
    oracle=f"""
SELECT o_orderpriority,
  COUNT(*) AS n_items,
  {sql_exact_sum("l_extendedprice", 18, 2)} AS total_price
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
""",
)
def q67_salted_join(spark, sf_dir):
    """Salted equi-join (skew fallback): probe side salted from
    l_linenumber, build side replicated n_salt times, join on
    (key, salt) — each hot key spreads over n_salt reducers. Result
    identical to the plain join (the oracle). First resort at scale is
    AQE skew splitting (on in session.py); salting is for the one-key-
    bigger-than-an-executor case — see operators/skew.py."""
    l = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    joined = salted_join(l, o, "l_orderkey", salt_from="l_linenumber", n_salt=8)
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_items"),
        exact_sum("l_extendedprice", 18, 2).alias("total_price"),
    )


# ===========================================================================
# SQL entry surface
# ===========================================================================

_SQL_QUERY = """
WITH r AS (
  SELECT l_orderkey,
    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS rev
  FROM {lineitem} GROUP BY l_orderkey
)
SELECT o.o_orderstatus,
  COUNT(*) AS n_orders,
  CAST(CAST(SUM(r.rev) AS DECIMAL(38,6)) AS DOUBLE) AS revenue,
  CAST(CAST(MAX(r.rev) AS DECIMAL(38,6)) AS DOUBLE) AS top_order_revenue
FROM r JOIN {orders} o ON o.o_orderkey = r.l_orderkey
GROUP BY o.o_orderstatus
"""


@q(
    "q68_sql_interface",
    oracle=_SQL_QUERY.format(lineitem="lineitem", orders="orders"),
)
def q68_sql_interface(spark, sf_dir):
    """The engine's SQL surface: tables registered as temp views, the
    query submitted as ANSI SQL through ``spark.sql`` — byte-for-byte
    the same text DuckDB runs (only the view registration differs).
    Proves the DataFrame registry and the SQL surface are the same
    engine."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("sql_lineitem")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("sql_orders")
    return spark.sql(_SQL_QUERY.format(lineitem="sql_lineitem", orders="sql_orders"))


# ===========================================================================
# co-grouped pandas (cogroup applyInPandas)
# ===========================================================================

@q(
    "q69_cogroup_purchase_click",
    oracle="""
WITH p AS (
  SELECT user_id, COUNT(*) AS n_purchases FROM events
  WHERE event_type = 'purchase' AND user_id % 4 = 0 GROUP BY user_id
),
c AS (
  SELECT user_id, COUNT(*) AS n_clicks FROM events
  WHERE event_type = 'click' AND user_id % 4 = 0 GROUP BY user_id
)
SELECT coalesce(p.user_id, c.user_id) AS user_id,
  CAST(coalesce(p.n_purchases, 0) AS BIGINT) AS n_purchases,
  CAST(coalesce(c.n_clicks, 0) AS BIGINT) AS n_clicks
FROM p FULL OUTER JOIN c ON p.user_id = c.user_id
""",
)
def q69_cogroup_purchase_click(spark, sf_dir):
    """Co-grouped pandas (``groupBy().cogroup().applyInPandas``): the
    two event streams meet per user-key in one Python function — the
    seam for per-key reconciliation logic too gnarly for joins (here
    deliberately simple counts so the full-outer-join oracle is exact).
    Both sides shuffle once on the key; the pandas function sees
    exactly one key's slice of each side. Like q56/q74, the demo runs
    on a 1/4 user cohort (identically filtered in the oracle): the
    per-key Python invocation cost it demonstrates is cohort-size-
    independent, and joins are the production path for logic this
    simple."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") % 4 == 0)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "event_id")

    def reconcile(key, left, right):
        import pandas as pd

        return pd.DataFrame(
            {
                "user_id": [int(key[0])],
                "n_purchases": [len(left)],
                "n_clicks": [len(right)],
            }
        )

    return (
        purchases.groupBy("user_id")
        .cogroup(clicks.groupBy("user_id"))
        .applyInPandas(
            reconcile, schema="user_id long, n_purchases long, n_clicks long"
        )
    )


# ===========================================================================
# streaming foreachBatch upsert sink (S10/S11 as a streaming writer)
# ===========================================================================

@q(
    "q70_stream_upsert_sink",
    oracle="""
WITH fresh AS (
  SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id
),
stale(user_id, n_events) AS (VALUES (-1, 111), (-2, 222), (-3, 333))
SELECT user_id, CAST(n_events AS BIGINT) AS n_events FROM fresh
UNION ALL
SELECT user_id, n_events FROM stale
""",
)
def q70_stream_upsert_sink(spark, sf_dir):
    """The reference's storage phase as a streaming sink: per micro-
    batch, ``foreachBatch`` MERGE-upserts the batch's per-user counts
    into a manifest-pointer parquet target seeded with stale rows
    (stale keys not touched by the stream survive; streamed keys are
    replaced) — S10's ON CONFLICT DO UPDATE, incremental and
    idempotent. The sink commits through the snapshot+atomic-pointer
    protocol (``operators/txn.py::ManifestTable``), so a crash mid-
    batch never leaves a torn or absent table and concurrent writers
    serialize on the pointer CAS — the filesystem stand-in for the
    Delta/Iceberg MERGE a 100 TB deployment would use."""
    import shutil

    from .operators.txn import ManifestTable, merge_write
    from .streaming.events import SCRATCH as _SC, events_stream

    target_path = os.path.join(_SC, f"upsert_target_{_key(sf_dir)}")
    # deterministic re-runs: reseed the target fresh each invocation
    shutil.rmtree(target_path, ignore_errors=True)
    tbl = ManifestTable(target_path)
    tbl.init(
        spark.createDataFrame(
            [(-1, 111), (-2, 222), (-3, 333)], "user_id long, n_events long"
        )
    )

    sdf = events_stream(spark, sf_dir)
    agg = sdf.groupBy("user_id").agg(F.count("*").alias("n_events"))

    def upsert_batch(batch_df, batch_id):
        merge_write(
            batch_df.sparkSession,
            target_path,
            batch_df,
            "user_id",
            writer="manifest",
        )

    import uuid

    from .streaming.events import pinned_shuffle_partitions

    # pin the stateful agg's partition count (state-store sizing — see
    # run_available_now): per-user counts are tiny here, 32 near-empty
    # stores are pure maintenance overhead
    with pinned_shuffle_partitions(spark, 8):
        q_ = (
            agg.writeStream.foreachBatch(upsert_batch)
            .outputMode("complete")
            .option(
                "checkpointLocation",
                os.path.join(_SC, "ckpt", f"upsert_{uuid.uuid4().hex[:12]}"),
            )
            .trigger(availableNow=True)
            .start()
        )
        q_.awaitTermination()
    return tbl.read(spark).select(
        "user_id", F.col("n_events").cast("long").alias("n_events")
    )


# ===========================================================================
# Python UDTF (Spark 4 table function) via LATERAL join
# ===========================================================================

@q(
    "q71_python_udtf",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
  FROM documents WHERE text IS NOT NULL AND text <> ''
),
ranked AS (
  SELECT doc_id, token, CAST(length(token) AS INT) AS tok_len,
    ROW_NUMBER() OVER (
      PARTITION BY doc_id ORDER BY length(token) DESC, token) AS rn
  FROM toks
)
SELECT doc_id, token, tok_len FROM ranked WHERE rn <= 3
""",
)
def q71_python_udtf(spark, sf_dir):
    """Native Python UDTF (Spark 4 ``@udtf``) applied with a LATERAL
    join: each document row fans out to its top-3 longest distinct
    tokens. The UDTF is the row-to-table seam for logic that neither a
    scalar UDF (wrong arity) nor explode (needs a precomputed array)
    expresses; for heavy throughput prefer the Arrow-batched
    mapInPandas shape (q57) — a plain UDTF is row-at-a-time."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="token string, tok_len int")
    class TopTokens:
        def eval(self, text: str):
            if text:
                toks = sorted(set(text.split(" ")), key=lambda t: (-len(t), t))[:3]
                for t in toks:
                    yield t, len(t)

    docs = _t(spark, sf_dir, "documents")
    docs.select("doc_id", "text").createOrReplaceTempView("udtf_docs")
    spark.udtf.register("dps_top_tokens", TopTokens)
    return spark.sql(
        "SELECT d.doc_id, t.token, t.tok_len "
        "FROM udtf_docs d, LATERAL dps_top_tokens(text) t "
        "WHERE d.text IS NOT NULL AND d.text <> ''"
    )


# ===========================================================================
# RANGE window frame (value-based sliding frame)
# ===========================================================================

@q(
    "q72_range_frame",
    oracle="""
WITH o AS (
  SELECT o_custkey, o_orderkey,
    datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day_num,
    CAST(o_totalprice AS DECIMAL(18,2)) AS price
  FROM orders
)
SELECT o_custkey, o_orderkey, CAST(day_num AS BIGINT) AS day_num,
  CAST(CAST(SUM(price) OVER (
    PARTITION BY o_custkey ORDER BY day_num
    RANGE BETWEEN 30 PRECEDING AND CURRENT ROW
  ) AS DECIMAL(38,6)) AS DOUBLE) AS rev_30d
FROM o
""",
)
def q72_range_frame(spark, sf_dir):
    """Value-based RANGE window frame: per customer, the trailing
    30-day revenue at each order. Unlike ROWS frames, RANGE bounds are
    in the ORDER-BY value's units and include peers — deterministic
    under ties by construction (every peer sees the same frame), so no
    tiebreak column is needed. Partitioned by customer; frame state is
    a sliding aggregate, O(1) per row."""
    from pyspark.sql import Window

    from .functions.numeric import dec, to_double

    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("day_num"),
        dec("o_totalprice", 18, 2).alias("price"),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("day_num")
        .rangeBetween(-30, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "day_num",
        to_double(F.sum("price").over(w)).alias("rev_30d"),
    )


# ===========================================================================
# SCD2 history upsert
# ===========================================================================

@q(
    "q73_scd2_history",
    oracle="""
WITH cur AS (
  SELECT c_custkey, c_mktsegment, DATE '2020-01-01' AS valid_from,
    CAST(NULL AS DATE) AS valid_to
  FROM customer
),
chg AS (
  SELECT c_custkey,
    CASE WHEN c_custkey % 14 = 0 THEN c_mktsegment ELSE 'PROMO' END
      AS new_seg,
    DATE '2024-06-01' AS eff
  FROM customer WHERE c_custkey % 7 = 0
),
matched AS (
  SELECT cur.*, chg.new_seg, chg.eff,
    chg.eff IS NOT NULL AND chg.new_seg IS DISTINCT FROM cur.c_mktsegment
      AS real_change
  FROM cur LEFT JOIN chg USING (c_custkey)
)
SELECT c_custkey, c_mktsegment, valid_from, eff AS valid_to
FROM matched WHERE real_change
UNION ALL
SELECT c_custkey, c_mktsegment, valid_from, valid_to
FROM matched WHERE NOT real_change OR eff IS NULL
UNION ALL
SELECT c_custkey, new_seg, eff, CAST(NULL AS DATE)
FROM matched WHERE real_change
""",
)
def q73_scd2_history(spark, sf_dir):
    """SCD type-2 upsert-with-history (operators/scd.py): a change
    batch (every 7th customer re-segmented to PROMO, every 14th a
    deliberate NO-OP change carrying its current value) closes current
    rows at the effective date and opens new current rows; no-ops and
    unknown-key rows behave per the operator contract. Pairs with the
    as-of join for time-travel dimension probes."""
    from .operators.scd import scd2_apply

    cust = _t(spark, sf_dir, "customer")
    target = cust.select(
        "c_custkey",
        "c_mktsegment",
        F.lit("2020-01-01").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
    )
    changes = cust.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey",
        F.when(F.col("c_custkey") % 14 == 0, F.col("c_mktsegment"))
        .otherwise(F.lit("PROMO"))
        .alias("c_mktsegment"),
        F.lit("2024-06-01").cast("date").alias("valid_from"),
    )
    return scd2_apply(
        target, changes, key="c_custkey", attrs=["c_mktsegment"]
    )


# ===========================================================================
# MLlib-backed production paths (trained models => rows-only checks;
# the deterministic formula twins carry exhaustive oracles: q20 runs
# the banded-LSH kernel end-to-end, q174 the IVF-SQ8 composition)
# ===========================================================================

@q(
    "q74_ml_minhash_lsh",
    oracle="""
WITH docs AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
),
corpus AS (
  SELECT doc_id, text FROM docs
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM docs WHERE doc_id % 10 = 0
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b
FROM corpus a JOIN corpus b ON a.text = b.text AND a.doc_id < b.doc_id
""",
)
def q74_ml_minhash_lsh(spark, sf_dir):
    """MinHash+LSH via pyspark.ml (``MinHashLSH.approxSimilarityJoin``)
    over binary HashingTF shingle vectors — the library-grade
    production path for near-dup detection (tuned band/hash-table
    internals, trained once, broadcast to executors). The
    formula-deterministic near-dup twin is q20 (which feeds the same
    minhash_lsh_pairs output into Jaccard verification; q19's
    standalone pair demo retired into it, r14); THIS slot is
    hash-oracled (r12 — VERDICT r11 item 5) through a guaranteed-
    recall cut: identical texts tokenize to identical feature vectors,
    whose MinHash signatures are identical, so they collide in EVERY
    hash table and are ALWAYS candidates — the exact-duplicate subset
    of the LSH output (candidates whose texts are equal) is therefore
    deterministic regardless of the engine-seeded hash family, and the
    DuckDB oracle reproduces it as a text-equality self-join. A missed
    planted duplicate (the q13 re-ingest model) fails the hash
    compare, so the oracle gate IS the recall assertion; the seed-
    dependent near-miss tail stays engine-internal and is deliberately
    cut away.

    Like q56, the demo runs on a deterministic 1/3 document cohort
    (``doc_id % 3 = 0``): the seam being demonstrated (fit ->
    approxSimilarityJoin) is cohort-size-independent, and the full-
    corpus production path is q20/q95 — no reason for a library demo to be
    the suite's most expensive query."""
    from pyspark.ml.feature import HashingTF, MinHashLSH, Tokenizer

    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") % 3 == 0)
    )
    rescan = docs.filter(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1000000
    )
    corpus = docs.unionByName(rescan)
    feats = HashingTF(
        inputCol="toks", outputCol="features", numFeatures=1 << 14, binary=True
    ).transform(
        Tokenizer(inputCol="text", outputCol="toks").transform(
            # single-file source => 1-2 partitions; the LSH self-join
            # parallelism follows the input partitioning
            corpus.repartition(spark.sparkContext.defaultParallelism, "doc_id")
        )
    )
    model = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=4, seed=42
    ).fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, 0.02, distCol="jaccard_dist")
    return (
        pairs.filter(
            (F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
            # guaranteed-recall deterministic cut: exact duplicates
            # always collide (identical signatures); near-miss pairs
            # are seed-dependent and excluded from the checked result
            & (F.col("datasetA.text") == F.col("datasetB.text"))
        )
        .select(
            F.col("datasetA.doc_id").alias("id_a"),
            F.col("datasetB.doc_id").alias("id_b"),
        )
    )


_Q75_COS4 = (
    "round(list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 4)"
)


@q(
    "q75_kmeans_ivf_topk",
    oracle=f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
qs AS (SELECT vec_id, v FROM e WHERE vec_id % 83 = 3),
scored AS (
  SELECT qs.vec_id AS query_id, c.vec_id AS neighbor_id,
    {_Q75_COS4.format(a='qs.v', b='c.v')} AS cosine
  FROM qs, e c WHERE qs.vec_id <> c.vec_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5
""",
)
def q75_kmeans_ivf_topk(spark, sf_dir):
    """IVF ANN with TRAINED coarse centroids (pyspark.ml KMeans, fixed
    seed) instead of q52's deterministic id-derived ones: fit k
    centers, assign inverted lists via the model, probe the 2 nearest
    lists per query, exact cosine rerank top-5. The trained centers
    are engine-internal, so the slot is pinned the q177 way (r12 —
    VERDICT r11 item 5): the RETURNED rows are the exact brute-force
    top-5 ground truth (hash-oracled against DuckDB), and the trained
    IVF path is gated by an in-query recall assertion — recall@5 of
    the nprobe=2/5 trained index against that ground truth must clear
    0.45 (measured 0.53-0.60 across sf0.001/0.01/0.1; a retrained
    model that collapses the inverted lists fails the run instead of
    silently degrading). The model is fitted and the gate checked on
    every call, so a repeated run measures the gate's cost and cannot
    hide a recall regression behind an earlier pass."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql import Window

    from .operators.similarity import as_double, cosine_topk, dot, norm as l2norm

    emb = _t(spark, sf_dir, "embeddings")
    exact = cosine_topk(
        emb, emb.filter(F.col("vec_id") % 83 == 3), "vec_id", "embedding",
        k=5,
    )
    # array_to_vector is the JVM-side builtin (no Python row UDF), and k
    # is a fixed constant — sizing it from a mid-plan .count() would put
    # a driver-side action in the query body (at 100 TB, k comes from
    # config / table statistics, never from counting the fact table).
    feats = emb.select(
        "vec_id",
        as_double("embedding").alias("v"),
        array_to_vector(as_double("embedding")).alias("features"),
    )
    k = 5
    model = KMeans(k=k, seed=7, featuresCol="features").fit(feats)
    assigned = model.transform(feats).select(
        "vec_id", "v", F.col("prediction").alias("cid")
    )
    centers = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cid int, cv array<double>",
    )
    qv = assigned.filter(F.col("vec_id") % 83 == 3).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    qscore = qv.join(F.broadcast(centers)).select(
        "query_id",
        "qv",
        "cid",
        F.round(
            dot(F.col("qv"), F.col("cv")) / (l2norm(F.col("qv")) * l2norm(F.col("cv"))),
            4,
        ).alias("csim"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("csim").desc(), F.col("cid"))
    probes = (
        qscore.withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") <= 2)
        .select("query_id", "qv", "cid")
    )
    scored = (
        probes.join(assigned, on="cid")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                dot(F.col("qv"), F.col("v")) / (l2norm(F.col("qv")) * l2norm(F.col("v"))),
                4,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    ivf_top = (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id")
    )
    # gate the trained index: recall@5 vs exact must clear the floor
    hits = int(
        exact.select("query_id", "neighbor_id")
        .join(ivf_top, ["query_id", "neighbor_id"])
        .count()
    )
    total = int(exact.count())
    assert total and hits / total >= 0.45, (
        f"trained IVF recall@5 collapsed: {hits}/{total}"
    )
    return exact.withColumn("rank", F.col("rank").cast("long"))


# ===========================================================================
# ROWS frames with negative offsets (moving aggregates)
# ===========================================================================

@q(
    "q76_moving_frames",
    oracle="""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
    CAST(value AS DECIMAL(18,2)) AS v
  FROM events WHERE event_type = 'purchase'
)
SELECT user_id, event_id,
  CAST(CAST(SUM(v) OVER w3 AS DECIMAL(38,6)) AS DOUBLE) AS prev3_sum,
  CAST(COUNT(*) OVER w3 AS BIGINT) AS prev3_n,
  CAST(CAST(MAX(v) OVER wfwd AS DECIMAL(38,6)) AS DOUBLE) AS next2_max,
  CAST(CAST(SUM(v) OVER wall AS DECIMAL(38,6)) AS DOUBLE) AS running_total
FROM e
WINDOW
  w3 AS (PARTITION BY user_id ORDER BY us, event_id
         ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING),
  wfwd AS (PARTITION BY user_id ORDER BY us, event_id
           ROWS BETWEEN 1 FOLLOWING AND 2 FOLLOWING),
  wall AS (PARTITION BY user_id ORDER BY us, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""",
)
def q76_moving_frames(spark, sf_dir):
    """ROWS frames with negative and forward offsets: trailing
    3-purchase sum EXCLUDING the current row, leading 2-purchase max,
    and the running total — the moving-aggregate family (frames are
    O(1)-state sliding windows; always key-partitioned). Unique
    (ts, event_id) ordering makes ROWS frames deterministic."""
    from pyspark.sql import Window

    from .functions.numeric import dec, to_double

    e = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase").select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        dec("value", 18, 2).alias("v"),
    )
    base = Window.partitionBy("user_id").orderBy("us", "event_id")
    w3 = base.rowsBetween(-3, -1)
    wfwd = base.rowsBetween(1, 2)
    wall = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return e.select(
        "user_id",
        "event_id",
        to_double(F.sum("v").over(w3)).alias("prev3_sum"),
        F.count("*").over(w3).cast("long").alias("prev3_n"),
        to_double(F.max("v").over(wfwd)).alias("next2_max"),
        to_double(F.sum("v").over(wall)).alias("running_total"),
    )


# ===========================================================================
# map-function suite (MapType surface)
# ===========================================================================

@q(
    "q77_map_functions",
    oracle="""
SELECT doc_id,
  CAST(n_chars AS BIGINT) AS chars_entry,
  CAST(doc_id % 100 AS BIGINT) AS bucket_entry,
  CAST(n_chars + doc_id % 100 AS BIGINT) AS merged_total,
  CAST(2 AS BIGINT) AS n_keys,
  'bucket,chars' AS key_csv
FROM documents
""",
)
def q77_map_functions(spark, sf_dir):
    """MapType surface: create_map / map_concat / transform_values /
    map_filter / map_keys — built and consumed entirely JVM-side, then
    flattened to scalar columns the oracle reproduces arithmetically
    (DuckDB's MAP type and Spark's diverge in literal syntax, so parity
    is checked on the flattened values)."""
    docs = _t(spark, sf_dir, "documents")
    m = F.map_concat(
        F.create_map(F.lit("chars"), F.col("n_chars").cast("long")),
        F.create_map(F.lit("bucket"), (F.col("doc_id") % 100).cast("long")),
    )
    out = docs.select("doc_id", m.alias("m"))
    doubled = F.transform_values(F.col("m"), lambda k, v: v * 2)
    halved = F.transform_values(doubled, lambda k, v: v / F.lit(2))
    return out.select(
        "doc_id",
        F.element_at(F.col("m"), "chars").alias("chars_entry"),
        F.element_at(F.col("m"), "bucket").alias("bucket_entry"),
        F.aggregate(
            F.map_values(halved.cast("map<string,long>")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("merged_total"),
        F.size(F.map_filter(F.col("m"), lambda k, v: v >= 0)).cast("long").alias(
            "n_keys"
        ),
        F.array_join(F.array_sort(F.map_keys(F.col("m"))), ",").alias("key_csv"),
    )


# ===========================================================================
# char-trigram language ID (scale path; q24 is the marker-token toy)
# ===========================================================================

def _trigram_lang_sql() -> str:
    from .operators.text import _trigram_profiles

    values = ", ".join(
        f"('{tg.replace(chr(39), chr(39) * 2)}', '{lang}')"
        for tg, lang in _trigram_profiles()
    )
    return f"""
WITH profile(tg, plang) AS (VALUES {values}),
padded AS (
  SELECT doc_id, lang, ' ' || lower(trim(text)) || ' ' AS t FROM documents
),
tgs AS (
  SELECT DISTINCT doc_id, lang, substr(t, i, 3) AS tg
  FROM padded,
    UNNEST(generate_series(1, greatest(1, length(t) - 2))) AS u(i)
),
scores AS (
  SELECT doc_id, lang, plang, COUNT(*) AS hits
  FROM tgs JOIN profile USING (tg)
  GROUP BY doc_id, lang, plang
),
best AS (
  SELECT doc_id, lang, plang AS predicted,
    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hits DESC, plang) AS rn
  FROM scores WHERE hits > 0
)
SELECT d.lang, coalesce(b.predicted, 'und') AS predicted,
  COUNT(*) AS n_docs
FROM documents d LEFT JOIN best b ON b.doc_id = d.doc_id AND b.rn = 1
GROUP BY 1, 2
"""


@q("q78_lang_id_trigram", oracle=_trigram_lang_sql())
def q78_lang_id_trigram(spark, sf_dir):
    """Char-trigram language ID (operators/text.py::lang_id_trigram):
    padded-text trigrams, broadcast profile join, per-language hit
    argmax — confusion counts of declared vs predicted language. The
    realistic scale path next to q24's marker-token heuristic."""
    from .operators.text import lang_id_trigram

    docs = _t(spark, sf_dir, "documents")
    pred = lang_id_trigram(docs, "doc_id", "text")
    return (
        docs.select("doc_id", "lang")
        .join(pred, on="doc_id")
        .groupBy("lang", "predicted")
        .agg(F.count("*").alias("n_docs"))
    )


# ===========================================================================
# deterministic hash sampling (resumable sampling at scale)
# ===========================================================================

@q(
    "q81_hash_sampling",
    oracle="""
WITH sampled AS (
  SELECT doc_id, lang, n_chars
  FROM documents
  WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
    % 100 < 20
)
SELECT lang, COUNT(*) AS n_sampled,
  CAST(SUM(n_chars) AS BIGINT) AS sampled_chars
FROM sampled GROUP BY lang
""",
)
def q81_hash_sampling(spark, sf_dir):
    """Deterministic 20% sample by key-hash bucket (md5-derived, NOT
    ``df.sample``): the sampling contract a 100 TB pipeline needs —
    reproducible across runs/engines/retries, stable under
    repartitioning, and consistent per key (the same doc is always in
    or out, so downstream joins against the sample stay aligned).
    ``df.sample``'s seeded Bernoulli is partition-order-dependent and
    cross-engine unportable — fine for stats, wrong for pipelines."""
    docs = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    return (
        docs.filter(bucket < 20)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_sampled"),
            F.sum("n_chars").cast("long").alias("sampled_chars"),
        )
    )


# ===========================================================================
# symmetric table diff (anti-entropy reconciliation)
# ===========================================================================

@q(
    "q82_table_diff",
    oracle="""
WITH a AS (
  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 11 <> 0
),
b AS (
  SELECT doc_id,
    md5(CASE WHEN doc_id % 13 = 0 THEN text || ' drift' ELSE text END) AS h
  FROM documents WHERE doc_id % 17 <> 0
)
SELECT
  CASE
    WHEN a.doc_id IS NULL THEN 'added'
    WHEN b.doc_id IS NULL THEN 'removed'
    WHEN a.h <> b.h THEN 'changed'
    ELSE 'same'
  END AS status,
  COUNT(*) AS n_rows
FROM a FULL OUTER JOIN b USING (doc_id)
GROUP BY 1
""",
)
def q82_table_diff(spark, sf_dir):
    """Symmetric snapshot diff (anti-entropy reconciliation): two
    derived snapshots with disjoint planted drift (rows missing from
    either side, content drift on a third set) are full-outer-joined
    on the key and every row classified added / removed / changed /
    same — the bidirectional generalization of the H2 one-way delta,
    and the standard replica-reconciliation sweep. One keyed shuffle;
    content comparison by hash so wide rows never cross the exchange
    twice."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    a = docs.filter(F.col("doc_id") % 11 != 0).select(
        "doc_id", F.md5("text").alias("h_a")
    )
    b = docs.filter(F.col("doc_id") % 17 != 0).select(
        "doc_id",
        F.md5(
            F.when(
                F.col("doc_id") % 13 == 0, F.concat(F.col("text"), F.lit(" drift"))
            ).otherwise(F.col("text"))
        ).alias("h_b"),
    )
    joined = a.join(b, on="doc_id", how="full_outer")
    status = (
        F.when(F.col("h_a").isNull(), F.lit("added"))
        .when(F.col("h_b").isNull(), F.lit("removed"))
        .when(F.col("h_a") != F.col("h_b"), F.lit("changed"))
        .otherwise(F.lit("same"))
    )
    return joined.select(status.alias("status")).groupBy("status").agg(
        F.count("*").alias("n_rows")
    )


# ===========================================================================
# YAML-configured pipeline (the reference's config-is-the-plan UX)
# ===========================================================================

def _yaml_oracle() -> str:
    from .operators.classify import DEFAULT_CONFIG
    from .queries_llm import _TEXT_EXPR, _rules_sql

    return f"""
WITH base AS (
  SELECT doc_id, 'd' || CAST(doc_id AS VARCHAR) AS lookup_key,
    trim(text) AS text, lang, source
  FROM documents WHERE trim(text) <> ''
),
hashed AS (
  SELECT *,
    md5(concat_ws(chr(31), coalesce(lookup_key, ''), coalesce(text, '')))
      AS row_hash
  FROM base
),
ruled AS (
  SELECT *, {_rules_sql(DEFAULT_CONFIG, _TEXT_EXPR)} AS sector0 FROM hashed
)
SELECT CASE WHEN sector0 = '' THEN 'otros' ELSE sector0 END AS sector,
  lang, COUNT(*) AS n_docs,
  COUNT(DISTINCT row_hash) AS n_hashes
FROM ruled GROUP BY 1, 2
"""


@q("q83_yaml_pipeline", oracle=_yaml_oracle())
def q83_yaml_pipeline(spark, sf_dir):
    """A pipeline declared entirely in YAML (``configs/
    etl_documents.yml`` — scan → filter → project → H1 checksum → C1
    rule classify → P15 null normalization → final projection),
    executed through plans/pipeline.py. The reference's config-driven
    UX: swap the YAML, keep the engine."""
    import os as _os

    from .plans.pipeline import build_pipeline, load_pipeline_config

    cfg_path = _os.path.join(
        _os.path.dirname(__file__), "configs", "etl_documents.yml"
    )
    out = build_pipeline(spark, load_pipeline_config(cfg_path), sf_dir)
    return out.groupBy("sector", "lang").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("row_hash").alias("n_hashes"),
    )


# ===========================================================================
# TPC-H-shaped multi-join analytics (Q7/Q9 shapes)
# ===========================================================================

@q(
    "q84_volume_shipping",
    oracle=f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
  CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
  {sql_exact_sum("l.l_extendedprice * (1 - l.l_discount)", 18, 4)} AS revenue
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
WHERE n1.n_name <> n2.n_name
GROUP BY 1, 2, 3
""",
)
def q84_volume_shipping(spark, sf_dir):
    """TPC-H Q7 shape: 6-way join with the nation dimension in TWO
    roles (supplier side and customer side), cross-nation trade volume
    by ship year. The fact-fact lineitem⋈orders join shuffles on the
    orderkey; all four dimension hops broadcast — the canonical
    star-with-two-role-dimensions plan."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("s_nationkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("c_nationkey"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), on="s_nationkey")
        .join(F.broadcast(n2), on="c_nationkey")
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return joined.groupBy(
        "supp_nation",
        "cust_nation",
        F.year("l_shipdate").cast("long").alias("l_year"),
    ).agg(
        exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 18, 4).alias(
            "revenue"
        )
    )


@q(
    "q85_product_profit",
    oracle=f"""
SELECT n.n_name AS nation,
  CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
  {sql_exact_sum(
      "l.l_extendedprice * (1 - l.l_discount) - 0.6 * p.p_retailprice * l.l_quantity",
      18, 4)} AS profit
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN part p ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE p.p_name LIKE '%a%'
GROUP BY 1, 2
""",
)
def q85_product_profit(spark, sf_dir):
    """TPC-H Q9 shape: per-nation yearly product profit over a 5-way
    join with a LIKE part filter (supply cost stood in by
    0.6 × retail price — the testdata ships no partsupp table). The
    part filter pushes into the scan; part/supplier/nation broadcast;
    the only shuffles are lineitem⋈orders and the final rollup."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%a%"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    joined = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
    )
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(
        0.6
    ) * F.col("p_retailprice") * F.col("l_quantity")
    return joined.groupBy(
        F.col("n_name").alias("nation"),
        F.year("o_orderdate").cast("long").alias("o_year"),
    ).agg(exact_sum(profit, 18, 4).alias("profit"))


# ===========================================================================
# exact statistical profiling (describe() twin, deterministic)
# ===========================================================================

@q(
    "q86_exact_moments",
    oracle="""
WITH m AS (
  SELECT l_returnflag,
    CAST(COUNT(*) AS HUGEINT) AS n,
    CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,6))
      AS DOUBLE) AS sx,
    SUM(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      AS HUGEINT)) AS sxc,
    SUM(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      AS HUGEINT)
      * CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      AS HUGEINT)) AS sx2c
  FROM lineitem GROUP BY l_returnflag
),
v AS (
  SELECT l_returnflag, n, sx,
    (n * sx2c - sxc * sxc) // (n * (n - 1)) AS varc2
  FROM m
)
SELECT l_returnflag,
  CAST(n AS BIGINT) AS n,
  sx / CAST(n AS BIGINT) AS mean,
  CAST(varc2 AS DOUBLE) / 10000.0 AS variance,
  sqrt(CAST(varc2 AS DOUBLE) / 10000.0) AS stddev
FROM v
""",
)
def q86_exact_moments(spark, sf_dir):
    """Deterministic describe(): per-group mean/variance/stddev from
    EXACT integer-cents moments (sum x, sum x^2 as int64, the cross
    term in DECIMAL(38,0)/HUGEINT), with the sample variance floored
    at cents^2 granularity via an exactly-divisible decimal division —
    no big-int -> double conversion anywhere near the 2^53 cliff.
    Spark's built-in stddev/var_samp accumulate doubles in shuffle
    order (nondeterministic under an exact oracle); and the naive
    decimal-funnel sum-of-squares exceeds the 2^53-exact range, so the
    moment arithmetic stays integral until the final small division.
    Map-side combinable, one aggregation pass, same as describe()."""
    from pyspark.sql import types as T

    from .functions.numeric import dec, to_double

    l = _t(spark, sf_dir, "lineitem")
    xc = (dec("l_extendedprice", 18, 2) * 100).cast("long")
    m = l.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        to_double(F.sum(dec("l_extendedprice", 18, 2))).alias("sx"),
        F.sum(xc).alias("sxc"),
        F.sum(xc * xc).alias("sx2c"),
    )
    d38 = T.DecimalType(38, 0)
    num = (
        m["n"].cast(d38) * m["sx2c"].cast(d38)
        - m["sxc"].cast(d38) * m["sxc"].cast(d38)
    )
    den = (m["n"] * (m["n"] - 1)).cast(d38)
    varc2 = ((num - F.pmod(num, den)) / den).cast("long")
    return m.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n"),
        (F.col("sx") / F.col("n")).alias("mean"),
        (varc2 / F.lit(10000.0)).alias("variance"),
        F.sqrt(varc2 / F.lit(10000.0)).alias("stddev"),
    )


# ===========================================================================
# winnowing fingerprints (rolling-hash document fingerprinting)
# ===========================================================================

_WINNOW_K = 8  # char-gram width
_WINNOW_W = 4  # winnowing window (grams per window)


@q(
    "q87_winnowing_fingerprints",
    oracle=f"""
WITH padded AS (
  SELECT doc_id, lower(trim(text)) AS t FROM documents
  WHERE length(trim(text)) >= {_WINNOW_K}
),
grams AS (
  SELECT doc_id, i,
    CAST('0x' || substr(md5(substr(t, i, {_WINNOW_K})), 1, 8) AS BIGINT) AS gh
  FROM padded,
    UNNEST(generate_series(1, length(t) - {_WINNOW_K} + 1)) AS u(i)
),
wmins AS (
  SELECT doc_id,
    MIN(gh) OVER (PARTITION BY doc_id ORDER BY i
      ROWS BETWEEN CURRENT ROW AND {_WINNOW_W - 1} FOLLOWING) AS fp
  FROM grams
),
fps AS (SELECT DISTINCT doc_id, fp FROM wmins)
SELECT doc_id, COUNT(*) AS n_fingerprints,
  MIN(fp) AS min_fp, MAX(fp) AS max_fp
FROM fps GROUP BY doc_id
""",
)
def q87_winnowing_fingerprints(spark, sf_dir):
    """Winnowing document fingerprints (the MOSS rolling-hash scheme):
    hash every char k-gram, take the min hash of each sliding window
    of w grams, keep the distinct window-mins as the doc's
    fingerprints. Guarantees any shared substring of length >= k+w-1
    yields a shared fingerprint — the plagiarism/near-dup primitive
    that survives local edits, unlike q25's whole-set hash.

    Plan shape: position explode (the parallel form of the sequential
    rolling scan), one md5 per gram reduced to 32-bit ints, per-doc
    ROWS-frame window min, distinct — everything shards by doc_id;
    no cross-doc shuffle until fingerprints are joined for matching."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    padded = docs.select(
        "doc_id", F.lower(F.trim("text")).alias("t")
    ).filter(F.length("t") >= _WINNOW_K)
    grams = (
        padded.select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.length("t") - F.lit(_WINNOW_K - 1))
            ).alias("i"),
            "t",
        )
        .select(
            "doc_id",
            "i",
            F.conv(
                F.substring(F.md5(F.substr("t", F.col("i"), F.lit(_WINNOW_K))), 1, 8),
                16,
                10,
            )
            .cast("long")
            .alias("gh"),
        )
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.currentRow, _WINNOW_W - 1)
    )
    fps = (
        grams.select("doc_id", F.min("gh").over(w).alias("fp"))
        .distinct()
    )
    return fps.groupBy("doc_id").agg(
        F.count("*").alias("n_fingerprints"),
        F.min("fp").alias("min_fp"),
        F.max("fp").alias("max_fp"),
    )


# ===========================================================================
# unpivot / melt (wide -> long, the inverse of q54)
# ===========================================================================

@q(
    "q88_unpivot",
    oracle="""
WITH wide AS (
  SELECT l_returnflag,
    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,6))
      AS DOUBLE) AS qty,
    CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,6))
      AS DOUBLE) AS price,
    CAST(CAST(SUM(CAST(l_tax AS DECIMAL(18,2))) AS DECIMAL(38,6))
      AS DOUBLE) AS tax
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, 'qty' AS measure, qty AS total FROM wide
UNION ALL SELECT l_returnflag, 'price', price FROM wide
UNION ALL SELECT l_returnflag, 'tax', tax FROM wide
""",
)
def q88_unpivot(spark, sf_dir):
    """Unpivot/melt (wide -> long, the inverse of q54's pivot) via the
    native ``DataFrame.unpivot`` — a zero-shuffle row expansion
    (Catalyst Expand node), never an explode-over-struct workaround.
    Long-form measures are what downstream chart/metric sinks want."""
    from .functions.numeric import exact_sum

    l = _t(spark, sf_dir, "lineitem")
    wide = l.groupBy("l_returnflag").agg(
        exact_sum("l_quantity", 18, 2).alias("qty"),
        exact_sum("l_extendedprice", 18, 2).alias("price"),
        exact_sum("l_tax", 18, 2).alias("tax"),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["qty", "price", "tax"],
        variableColumnName="measure",
        valueColumnName="total",
    )
