"""Round-5 registry queries: incremental ANN index maintenance and the
second-config pipeline switch (the reference's multi-country UX)."""

from __future__ import annotations

import os

from pyspark.sql import Window
from pyspark.sql import functions as F

from .functions.checksum import checksum_sql
from .functions.numeric import exact_sum, sql_exact_sum
from .operators import similarity as SIM
from .operators.txn import ManifestTable, merge_write
from .queries import _key, _t, q
from .streaming.events import SCRATCH


# ===========================================================================
# incremental ANN: persisted SRP bucket index, probe-only ingestion
# ===========================================================================

def _q106_oracle() -> str:
    bucket_c = SIM.srp_bucket_sql("v", n_planes=6, dim=64)
    bucket_i = SIM.srp_bucket_sql("iv", n_planes=6, dim=64)
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
idx AS (SELECT vec_id, v, {bucket_c} AS bucket FROM e),
inc AS (
  SELECT vec_id + 1000000 AS query_id,
    list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.0005) AS iv
  FROM embeddings WHERE vec_id % 9 = 0
),
incb AS (SELECT query_id, iv, {bucket_i} AS bucket FROM inc),
scored AS (
  SELECT i.query_id, c.vec_id AS neighbor_id,
    round(list_dot_product(i.iv, c.v)
      / (sqrt(list_dot_product(i.iv, i.iv)) * sqrt(list_dot_product(c.v, c.v))),
      4) AS cosine
  FROM incb i JOIN idx c ON i.bucket = c.bucket
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored) WHERE rank <= 3
"""


@q("q106_incremental_ann", oracle=_q106_oracle())
def q106_incremental_ann(spark, sf_dir):
    """Incremental ANN index maintenance — the embedding analogue of
    q95's incremental dedup, and the pattern that keeps similarity
    search sustainable while a corpus accretes (the reference keeps
    its raw ledger as exactly this kind of persisted state store,
    ``src/storage.py:67-74``):

    1. the corpus SRP bucket index ``(vec_id, bucket, v)`` lives as a
       PERSISTED table (built once, maintained forever);
    2. an incoming batch (new ids, slightly perturbed vectors) is
       MERGEd into the index by primary key — idempotent upsert via
       the transactional seam (``operators/txn.py::merge_write``);
    3. the batch is scored ONLY against same-bucket index rows — one
       equi-join on ``bucket``; no corpus self-join, no all-pairs —
       and the top-3 per incoming vector is returned.

    Per-batch cost is O(|batch| + matched buckets); the probe filters
    the index to corpus rows (``vec_id < 1000000``) so the result is
    identical no matter how many times the same batch was merged."""
    emb = _t(spark, sf_dir, "embeddings")
    idx_path = os.path.join(SCRATCH, f"srp_index_{_key(sf_dir)}")

    def with_bucket(df, id_alias, vec):
        return df.select(
            F.col("vec_id").alias(id_alias),
            vec.alias("v"),
        ).withColumn("bucket", SIM.srp_bucket("v", 6, 64))

    # manifest-pointer state table: bootstrap is an atomic first commit
    # (two concurrent sessions on the same sf can both call init — the
    # pointer CAS lets exactly one win, the other adopts the committed
    # snapshot; no _SUCCESS-check race)
    idx = ManifestTable(idx_path)
    idx.adopt_plain()  # migrate a pre-manifest scratch dir if present
    idx.init(with_bucket(emb, "vec_id", SIM.as_double("embedding")))

    incoming = with_bucket(
        emb.filter(F.col("vec_id") % 9 == 0).select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"),
            F.transform(SIM.as_double("embedding"), lambda x: x * 1.0005).alias(
                "embedding"
            ),
        ),
        "vec_id",
        F.col("embedding"),
    )

    # maintenance: upsert the batch into the stored index (insert new
    # ids, overwrite re-ingested ones) — same-key re-merge is a no-op
    merge_write(spark, idx_path, incoming, "vec_id", writer="manifest")

    index = idx.read(spark).filter(F.col("vec_id") < 1_000_000)
    probe = incoming.select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("iv"), "bucket"
    )
    scored = probe.join(index, on="bucket").select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(
            SIM.dot(F.col("iv"), F.col("v"))
            / (SIM.norm(F.col("iv")) * SIM.norm(F.col("v"))),
            4,
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
    )


# ===========================================================================
# second-config pipeline: the reference's runtime country switch
# ===========================================================================

_ALT_CHECKSUM = checksum_sql(["numero", "titulo", "estado"])


@q(
    "q107_config_switch",
    oracle=f"""
WITH base AS (
  SELECT CAST(o_orderkey AS VARCHAR) AS numero,
    o_orderstatus AS estado,
    o_orderpriority AS titulo,
    strftime(o_orderdate, '%d/%m/%Y') AS fecha_str,
    o_totalprice AS monto
  FROM orders WHERE o_totalprice > 0
),
parsed AS (
  SELECT *,
    CAST(strptime(regexp_extract(fecha_str,
      '([0-9]{{2}}/[0-9]{{2}}/[0-9]{{4}})', 1), '%d/%m/%Y') AS DATE) AS fecha,
    {_ALT_CHECKSUM} AS row_hash
  FROM base
)
SELECT estado, CAST(year(fecha) AS BIGINT) AS anio,
  COUNT(*) AS n_orders,
  {sql_exact_sum('monto', 18, 2)} AS total_monto,
  COUNT(DISTINCT row_hash) AS n_hashes
FROM parsed GROUP BY 1, 2
""",
)
def q107_config_switch(spark, sf_dir):
    """Runtime config switch (the reference's core multi-country UX:
    ``src/scrapers/config_loader.py:10-21`` picks ``peru.yml`` vs
    ``colombia.yml`` at launch): a SECOND pipeline YAML with a
    different table, different column set, a ``dd/MM/yyyy`` date
    regex + parse, and different checksum fields, folded by the SAME
    ``plans/pipeline.py`` builder that runs q83's config. Both
    configs are loaded; the active one is selected by name — swap the
    YAML, keep the engine."""
    from .plans.pipeline import build_pipeline, load_pipeline_config

    cfg_dir = os.path.join(os.path.dirname(__file__), "configs")
    configs = {
        name: load_pipeline_config(os.path.join(cfg_dir, fname))
        for name, fname in [
            ("etl_documents", "etl_documents.yml"),
            ("etl_orders_alt", "etl_orders_alt.yml"),
        ]
    }
    out = build_pipeline(spark, configs["etl_orders_alt"], sf_dir)
    return out.groupBy(
        "estado", F.year("fecha").cast("long").alias("anio")
    ).agg(
        F.count("*").alias("n_orders"),
        exact_sum("monto", 18, 2).alias("total_monto"),
        F.countDistinct("row_hash").alias("n_hashes"),
    )


# ===========================================================================
# training-data curation: quality rules, decontamination, domain caps
# ===========================================================================

from .curation import (
    DOMAIN_CAP as _DOMAIN_CAP,
    QR_MAX_DTF as _QR_MAX_DTF,
    QR_MAX_MWL as _QR_MAX_MWL,
    QR_MAX_TBF as _QR_MAX_TBF,
    QR_MAX_TOK as _QR_MAX_TOK,
    QR_MIN_MWL as _QR_MIN_MWL,
    QR_MIN_TOK as _QR_MIN_TOK,
)


@q(
    "q108_quality_rules",
    oracle=f"""
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS t, text FROM documents
  WHERE len(string_split(text, ' ')) >= 4
),
stats AS (
  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
    round((len(text) - (len(t) - 1)) / CAST(len(t) AS DOUBLE), 4)
      AS mean_word_len, t
  FROM base
),
sh2 AS (
  SELECT doc_id,
    unnest([t[i] || ' ' || t[i+1] for i in generate_series(1, len(t)-1)]) AS s
  FROM base
),
top2 AS (
  SELECT doc_id, MAX(c) AS max_c FROM (
    SELECT doc_id, s, COUNT(*) AS c FROM sh2 GROUP BY 1, 2
  ) GROUP BY 1
),
sh3 AS (
  SELECT doc_id,
    unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
            for i in generate_series(1, len(t)-2)]) AS s
  FROM base
),
dup3 AS (
  SELECT doc_id, SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup_c FROM (
    SELECT doc_id, s, COUNT(*) AS c FROM sh3 GROUP BY 1, 2
  ) GROUP BY 1
)
SELECT st.doc_id, st.n_tokens, st.mean_word_len,
  round(top2.max_c / CAST(st.n_tokens - 1 AS DOUBLE), 4) AS top_bigram_frac,
  round(dup3.dup_c / CAST(st.n_tokens - 2 AS DOUBLE), 4) AS dup_trigram_frac,
  CAST(st.n_tokens BETWEEN {_QR_MIN_TOK} AND {_QR_MAX_TOK}
    AND st.mean_word_len BETWEEN {_QR_MIN_MWL} AND {_QR_MAX_MWL}
    AND top2.max_c / CAST(st.n_tokens - 1 AS DOUBLE) < {_QR_MAX_TBF}
    AND dup3.dup_c / CAST(st.n_tokens - 2 AS DOUBLE) < {_QR_MAX_DTF}
    AS BIGINT) AS keep
FROM stats st
JOIN top2 ON top2.doc_id = st.doc_id
JOIN dup3 ON dup3.doc_id = st.doc_id
""",
)
def q108_quality_rules(spark, sf_dir):
    """Gopher/C4-style repetition + shape quality rules, the curation
    pass a pretraining pipeline runs before dedup: token-count bounds,
    mean word length, top-bigram fraction (most frequent bigram's
    share of all bigrams), duplicate-trigram fraction, and the
    composite keep flag. Everything is a keyed aggregation over the
    codegen-safe shingle relation (operators/dedup.py:108 — explode
    the start index, flat slice/concat_ws; NEVER nested HOFs) — no
    Python, two doc_id-partitioned shuffles, linear in corpus size."""
    from .operators import dedup as D

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.col("text"), " ")
    docs = docs.filter(F.size(toks) >= 4)
    nt = F.size(toks).cast("long")
    stats = docs.select(
        "doc_id",
        nt.alias("n_tokens"),
        F.round(
            (F.length("text") - (nt - 1)) / nt.cast("double"), 4
        ).alias("mean_word_len"),
    )
    top2 = (
        D.shingle_relation(docs, "doc_id", "text", k=2)
        .groupBy("doc_id", "s").count()
        .groupBy("doc_id").agg(F.max("count").alias("max_c"))
    )
    dup3 = (
        D.shingle_relation(docs, "doc_id", "text", k=3)
        .groupBy("doc_id", "s").count()
        .groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("count") >= 2, F.col("count")).otherwise(0)).alias(
                "dup_c"
            )
        )
    )
    tbf = F.col("max_c") / (F.col("n_tokens") - 1).cast("double")
    dtf = F.col("dup_c") / (F.col("n_tokens") - 2).cast("double")
    keep = (
        F.col("n_tokens").between(_QR_MIN_TOK, _QR_MAX_TOK)
        & F.col("mean_word_len").between(_QR_MIN_MWL, _QR_MAX_MWL)
        & (tbf < _QR_MAX_TBF)
        & (dtf < _QR_MAX_DTF)
    )
    return (
        stats.join(top2, "doc_id").join(dup3, "doc_id")
        .select(
            "doc_id", "n_tokens", "mean_word_len",
            F.round(tbf, 4).alias("top_bigram_frac"),
            F.round(dtf, 4).alias("dup_trigram_frac"),
            keep.cast("long").alias("keep"),
        )
    )


@q(
    "q109_decontaminate",
    oracle="""
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
  WHERE len(string_split(text, ' ')) >= 4
),
corpus AS (SELECT * FROM base WHERE doc_id % 37 <> 0),
bench AS (SELECT * FROM base WHERE doc_id % 37 = 0),
csh AS (
  SELECT DISTINCT doc_id,
    unnest([array_to_string(t[i:i+3], ' ')
            for i in generate_series(1, len(t)-3)]) AS s
  FROM corpus
),
bsh AS (
  SELECT DISTINCT doc_id AS bench_id,
    unnest([array_to_string(t[i:i+3], ' ')
            for i in generate_series(1, len(t)-3)]) AS s
  FROM bench
)
SELECT c.doc_id,
  CAST(COUNT(DISTINCT c.s) AS BIGINT) AS n_contaminated_ngrams,
  CAST(COUNT(DISTINCT b.bench_id) AS BIGINT) AS n_benchmarks
FROM csh c JOIN bsh b ON b.s = c.s
GROUP BY 1
""",
)
def q109_decontaminate(spark, sf_dir):
    """Benchmark decontamination — the n-gram overlap scan every
    pretraining corpus runs against its eval sets: n-gram collision
    between the training corpus and a held-out benchmark slice
    (doc_id % 37, the deterministic stand-in for an eval suite).
    k=4 here so the tiny-vocabulary synthetic corpus yields a
    non-trivial hit set; production runs 10-13-grams through the
    IDENTICAL plan.
    One distinct-shingle equi-join; no corpus self-join. At 100 TB
    the join key becomes the shingle's 64-bit hash (collisions then
    verified on the string) and the benchmark side — millions of
    n-grams, not billions — broadcasts."""
    from .operators import dedup as D

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    docs = docs.filter(F.size(F.split(F.col("text"), " ")) >= 4)
    corpus = docs.filter(F.col("doc_id") % 37 != 0)
    bench = docs.filter(F.col("doc_id") % 37 == 0)
    csh = (
        D.shingle_relation(corpus, "doc_id", "text", k=4)
        .select("doc_id", "s").distinct()
    )
    bsh = (
        D.shingle_relation(bench, "doc_id", "text", k=4)
        .select(F.col("doc_id").alias("bench_id"), "s").distinct()
    )
    return (
        csh.join(bsh, "s")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("s").alias("n_contaminated_ngrams"),
            F.countDistinct("bench_id").alias("n_benchmarks"),
        )
    )


@q(
    "q110_domain_caps",
    oracle=f"""
WITH ranked AS (
  SELECT source, n_chars,
    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents
)
SELECT source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(CASE WHEN rn <= {_DOMAIN_CAP} THEN 1 ELSE 0 END) AS BIGINT)
    AS n_kept,
  CAST(SUM(CASE WHEN rn > {_DOMAIN_CAP} THEN 1 ELSE 0 END) AS BIGINT)
    AS n_dropped,
  CAST(SUM(CASE WHEN rn <= {_DOMAIN_CAP} THEN n_chars ELSE 0 END) AS BIGINT)
    AS chars_kept
FROM ranked GROUP BY source
""",
)
def q110_domain_caps(spark, sf_dir):
    """Per-domain document caps — the source-balancing pass (C4's
    per-domain limits; deduped CommonCrawl's per-host caps): keep the
    first N docs per source under a deterministic order, report
    kept/dropped mass per domain.

    Skew-proof shape: per-source TOTALS come from a plain partial-
    aggregated ``groupBy`` (map-side combine — a hot domain never
    concentrates raw rows), and the capped slice filters
    ``row_number() <= cap`` IMMEDIATELY so Catalyst inserts
    ``WindowGroupLimit`` (Partial, i.e. BEFORE the shuffle): each map
    partition forwards at most ``cap`` rows per source to the window
    sort, so a domain with a billion docs costs the shuffle only
    ``cap * n_map_partitions`` rows instead of a billion. Verified in
    the executed plan by ``tests/test_plan_lint.py`` (MUST_GROUP_LIMIT)
    and measured on a 30%-hot-domain 10x corpus in SCALE_EVIDENCE.md."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    totals = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    rn = F.row_number().over(Window.partitionBy("source").orderBy("doc_id"))
    capped = (
        docs.withColumn("rn", rn)
        .filter(F.col("rn") <= _DOMAIN_CAP)
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_kept"),
            F.sum("n_chars").cast("long").alias("chars_kept"),
        )
    )
    return totals.join(capped, "source").select(
        "source",
        "n_docs",
        "n_kept",
        (F.col("n_docs") - F.col("n_kept")).cast("long").alias("n_dropped"),
        "chars_kept",
    )


# ===========================================================================
# time-series regularization: calendar gap fill + forward fill
# ===========================================================================

@q(
    "q111_gap_fill",
    oracle="""
WITH sparse AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
    COUNT(*) AS n_events,
    CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,6)) AS DOUBLE)
      AS revenue
  FROM events WHERE event_id % 97 = 0
  GROUP BY 1, 2
),
spans AS (
  SELECT event_type, MIN(day) AS d0, MAX(day) AS d1 FROM sparse GROUP BY 1
),
grid AS (
  SELECT event_type,
    CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
  FROM spans
)
SELECT g.event_type, g.day,
  CAST(coalesce(s.n_events, 0) AS BIGINT) AS n_events,
  CAST(s.day IS NULL AS BIGINT) AS is_gap,
  last_value(s.revenue IGNORE NULLS) OVER (
    PARTITION BY g.event_type ORDER BY g.day
    ROWS UNBOUNDED PRECEDING) AS revenue_ff
FROM grid g LEFT JOIN sparse s
  ON s.event_type = g.event_type AND s.day = g.day
""",
)
def q111_gap_fill(spark, sf_dir):
    """Time-series regularization — resample a sparse daily series
    onto a dense per-key calendar and forward-fill: the gap-fill /
    as-of-carry operator every metrics pipeline needs before window
    math (a gap day must contribute a row, not silently vanish).

    Plan: per-key MIN/MAX span (one tiny aggregate), calendar grid via
    ``sequence`` + ``explode`` (rows = sum of span lengths — generated,
    never shuffled), left join of the actuals back on (key, day), and
    ``last(ignorenulls)`` over a key-partitioned ROWS frame for the
    carry-forward. Everything partitions by the series key; the grid
    explode is the only row-count amplifier and is bounded by
    days-per-key, so 100 TB of events with a 10-year calendar stays
    ~3,650 rows per key."""
    ev = _t(spark, sf_dir, "events")
    sparse = (
        ev.filter(F.col("event_id") % 97 == 0)
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(
            F.count("*").alias("n_events"),
            exact_sum("value", 18, 2).alias("revenue"),
        )
    )
    grid = (
        sparse.groupBy("event_type")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "event_type",
            F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day"),
        )
    )
    from pyspark.sql import Window as W

    ff = W.partitionBy("event_type").orderBy("day").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    joined = grid.join(
        sparse.withColumnRenamed("day", "s_day"),
        on=[grid["event_type"] == sparse["event_type"], grid["day"] == F.col("s_day")],
        how="left",
    ).select(
        grid["event_type"],
        grid["day"],
        F.coalesce(F.col("n_events"), F.lit(0)).cast("long").alias("n_events"),
        F.col("s_day").isNull().cast("long").alias("is_gap"),
        F.col("revenue"),
    )
    return joined.select(
        "event_type", "day", "n_events", "is_gap",
        F.last("revenue", ignorenulls=True).over(ff).alias("revenue_ff"),
    )


# ===========================================================================
# entity resolution: blocked fuzzy match (edit-distance within blocks)
# ===========================================================================

@q(
    "q112_fuzzy_match",
    oracle="""
WITH canon AS (
  SELECT p_partkey, p_name FROM part
),
dirty AS (
  SELECT p_partkey + 1000000 AS dirty_id,
    substr(p_name, 1, length(p_name) - 1) AS name
  FROM part WHERE p_partkey % 13 = 0 AND length(p_name) > 3
),
cand AS (
  SELECT d.dirty_id, d.name, c.p_partkey, c.p_name,
    levenshtein(d.name, c.p_name) AS dist
  FROM dirty d JOIN canon c
    ON substr(d.name, 1, 3) = substr(c.p_name, 1, 3)
  WHERE levenshtein(d.name, c.p_name) <= 2
),
best AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY dirty_id ORDER BY dist, p_partkey) AS rn
  FROM cand
)
SELECT dirty_id, name, p_partkey AS matched_key, p_name AS matched_name,
  CAST(dist AS BIGINT) AS dist
FROM best WHERE rn = 1
""",
)
def q112_fuzzy_match(spark, sf_dir):
    """Blocked fuzzy entity resolution — the record-matching operator
    of every data-cleaning pipeline (and the classic Magellan/dedupe
    design): a 'dirty' name set (deterministically truncated part
    names) matches back to the canonical catalog by edit distance,
    but ONLY within a blocking key (3-char prefix) — the blocked join
    bounds candidates per record, so cost is O(block sizes), never the
    |dirty| x |canon| cross product. Best match per dirty record via
    (distance, key) argmin window. At 100 TB the blocking key becomes
    multiple redundant keys (prefix + soundex + length bucket) unioned
    before verification, same plan shape."""
    p = _t(spark, sf_dir, "part")
    # canonical-name dedup BEFORE matching (standard ER prep): many
    # catalog rows share one name, and the (dist, key) argmin can only
    # ever pick the min key within a name group — so collapsing to one
    # representative per distinct name is result-identical while
    # shrinking every block by the name-duplication factor
    canon = p.groupBy("p_name").agg(F.min("p_partkey").alias("p_partkey"))
    dirty = (
        p.filter((F.col("p_partkey") % 13 == 0) & (F.length("p_name") > 3))
        .select(
            (F.col("p_partkey") + 1_000_000).alias("dirty_id"),
            F.expr("substr(p_name, 1, length(p_name) - 1)").alias("name"),
        )
    )
    cand = (
        dirty.join(
            canon,
            # equi key (hash join) + a length band applied during the
            # probe: |len difference| > 2 already implies distance > 2,
            # so the expensive edit-distance only runs on survivors
            on=F.expr(
                "substr(name, 1, 3) = substr(p_name, 1, 3) "
                "AND abs(length(name) - length(p_name)) <= 2"
            ),
        )
        # threshold form: the DP early-exits once distance exceeds 3
        # (returns -1 past the bound) — same <=2 result set, less work
        # per candidate pair
        .withColumn("dist", F.levenshtein("name", "p_name", 3))
        .filter(F.col("dist").between(0, 2))
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("dirty_id").orderBy("dist", "p_partkey")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "dirty_id", "name",
            F.col("p_partkey").alias("matched_key"),
            F.col("p_name").alias("matched_name"),
            F.col("dist").cast("long").alias("dist"),
        )
    )


# ===========================================================================
# dataset mixing: per-source target weights via deterministic sampling
# ===========================================================================

# target mixture: fraction of the OUTPUT each source group should
# contribute (the pretraining data-mixture knob). Groups are defined on
# the source id's numeric suffix here; a real config maps real domains.
_MIX_WEIGHTS = {"web": 0.5, "curated": 0.3, "code": 0.2}
_MIX_GROUP_SQL = """CASE
  WHEN CAST(substr(source, 4) AS INTEGER) % 4 IN (0, 1) THEN 'web'
  WHEN CAST(substr(source, 4) AS INTEGER) % 4 = 2 THEN 'curated'
  ELSE 'code' END"""


def _mix_oracle() -> str:
    weights = ", ".join(f"('{g}', {w})" for g, w in _MIX_WEIGHTS.items())
    return f"""
WITH tagged AS (
  SELECT doc_id, n_chars, {_MIX_GROUP_SQL} AS grp FROM documents
),
counts AS (SELECT grp, COUNT(*) AS n_grp FROM tagged GROUP BY 1),
w(grp, weight) AS (VALUES {weights}),
-- the binding group: the one whose n/weight ratio is smallest caps the
-- total output size; every group then samples to weight * total
tot AS (
  SELECT CAST(floor(MIN(n_grp / weight)) AS BIGINT) AS n_total
  FROM counts JOIN w USING (grp)
),
rates AS (
  SELECT grp, LEAST(1.0, (weight * n_total) / n_grp) AS rate
  FROM counts JOIN w USING (grp) CROSS JOIN tot
),
sampled AS (
  SELECT t.grp, t.n_chars
  FROM tagged t JOIN rates r ON r.grp = t.grp
  WHERE CAST('0x' || substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
    % 1000000 < CAST(r.rate * 1000000 AS BIGINT)
)
SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM sampled GROUP BY grp
"""


@q("q113_source_mixing", oracle=_mix_oracle())
def q113_source_mixing(spark, sf_dir):
    """Dataset mixture sampling — THE pretraining curation knob: given
    per-group target weights, each source group is downsampled so the
    output hits the target mix, with the scarcest group (largest
    weight-to-size ratio) binding the total. Membership is the q81
    md5-hash threshold — deterministic per doc, reproducible across
    engines/retries/partitionings, and stable as the corpus grows
    (adding docs never flips an existing doc's membership at a fixed
    rate). Plan: one tiny per-group count (broadcast back), then a
    map-only filter — no shuffle of the corpus itself."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    grp = F.expr(_MIX_GROUP_SQL)
    tagged = docs.select("doc_id", "n_chars", grp.alias("grp"))
    weights = spark.createDataFrame(
        list(_MIX_WEIGHTS.items()), "grp string, weight double"
    )
    counts = tagged.groupBy("grp").agg(F.count("*").alias("n_grp")).join(
        F.broadcast(weights), "grp"
    )
    # binding-group total as a GLOBAL window min over the tiny per-group
    # count frame (a single-partition exchange of |groups| rows) — not a
    # 1-row crossJoin, which would plan as a nested-loop join
    t = F.floor(
        F.min(F.col("n_grp") / F.col("weight")).over(Window.partitionBy())
    ).cast("long")
    rates = counts.select(
        "grp",
        F.least(
            F.lit(1.0), (F.col("weight") * t) / F.col("n_grp")
        ).alias("rate"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 1_000_000
    )
    return (
        tagged.join(F.broadcast(rates), "grp")
        .filter(bucket < (F.col("rate") * 1_000_000).cast("long"))
        .groupBy("grp")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


# ===========================================================================
# distribution profiling: fixed-bin histograms per group
# ===========================================================================

_HIST_BINS = 10


@q(
    "q114_value_histogram",
    oracle=f"""
WITH spans AS (
  SELECT event_type, MIN(value) AS v0, MAX(value) AS v1
  FROM events GROUP BY 1
),
binned AS (
  SELECT e.event_type,
    CASE WHEN s.v1 = s.v0 THEN 0
      ELSE CAST(LEAST({_HIST_BINS} - 1,
        floor((e.value - s.v0) / ((s.v1 - s.v0) / {_HIST_BINS}))) AS BIGINT)
    END AS bin
  FROM events e JOIN spans s ON s.event_type = e.event_type
)
SELECT event_type, bin, CAST(COUNT(*) AS BIGINT) AS n
FROM binned GROUP BY 1, 2
""",
)
def q114_value_histogram(spark, sf_dir):
    """Fixed-bin value histograms per group — the distribution half of
    the table profiler (q103 gives scalars; this gives shape, the
    input to drift detection and outlier triage). Two keyed
    aggregations: a tiny per-group (min, max) span broadcast back,
    then a map-side-combinable count per (group, bin). The bin
    expression floors against the span exactly the same way in both
    engines (double arithmetic on identical inputs), with the max
    value clamped into the last bin. A degenerate span (min == max —
    every value identical in the group) is pinned to bin 0 explicitly:
    without the guard the expression is 0.0/0.0 = NaN, and Spark's
    floor(NaN)->0 vs DuckDB's LEAST(NaN)->9 silently diverge."""
    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    spans = ev.groupBy("event_type").agg(
        F.min("value").alias("v0"), F.max("value").alias("v1")
    )
    binned = ev.join(F.broadcast(spans), "event_type").select(
        "event_type",
        F.when(F.col("v1") == F.col("v0"), F.lit(0))
        .otherwise(
            F.least(
                F.lit(_HIST_BINS - 1),
                F.floor(
                    (F.col("value") - F.col("v0"))
                    / ((F.col("v1") - F.col("v0")) / _HIST_BINS)
                ),
            )
        ).cast("long").alias("bin"),
    )
    return binned.groupBy("event_type", "bin").agg(F.count("*").alias("n"))
