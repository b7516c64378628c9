"""Registry part 3 — the north-star LLM-data-pipeline operators:
deduplication (exact / MinHash+LSH / SimHash / n-gram Jaccard),
similarity search, text analysis, classification, multimodal columns,
and the streaming twin of the daily rollup.

Oracle SQL here is generated programmatically where the operator is
wide (32 SimHash bit-sums, 8 MinHash seeds) so Spark and DuckDB are
guaranteed to compute the same formula.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .functions.numeric import sql_exact_sum
from .operators import classify as C
from .operators import dedup as D
from .operators import multimodal as MM
from .operators import similarity as SIM
from .operators import text as TX
from .queries import _t, q

# ===========================================================================
# dedup family
# ===========================================================================

@q(
    "q13_exact_dedup",
    oracle="""
WITH incoming AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
),
hashed AS (
  SELECT doc_id, md5(text) AS content_hash,
    COUNT(*) OVER (PARTITION BY md5(text)) AS group_size,
    MIN(doc_id) OVER (PARTITION BY md5(text)) AS keeper_id
  FROM incoming
)
SELECT doc_id, content_hash, group_size, keeper_id
FROM hashed WHERE group_size > 1
""",
)
def q13_exact_dedup(spark, sf_dir):
    """Exact dedup by content hash over a simulated re-scrape (the
    corpus unioned with a re-ingested 10% slice under new ids) — the
    engine form of the reference's checksum-based change detection
    applied to dedup."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    rescan = docs.filter(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1000000
    )
    incoming = docs.unionByName(rescan)
    groups = D.exact_dup_groups(incoming, F.md5("text"), "doc_id")
    return groups.filter(F.col("group_size") > 1).select(
        "doc_id", "content_hash", "group_size", "keeper_id"
    )


def _minhash_cte(k: int = 3, n_hashes: int = 8, relation: str = "documents") -> str:
    """Shared CTE prefix: shingles + per-seed min-hash signature + LSH
    bands + candidate pairs, formula-identical to operators.dedup.
    lsh_bands (one md5 per shingle -> 32-bit int -> affine universal
    hashes mod P -> md5 of each band's joined hashes).
    ``relation`` lets composers (q95) shingle a derived corpus."""
    mins = ",\n    ".join(
        f"min(({D.MINHASH_A[s]} * hx + {D.MINHASH_B[s]}) % {D.MINHASH_P})"
        f" AS mh{s}"
        for s in range(n_hashes)
    )
    return f"""
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM {relation}),
sh AS (
  SELECT doc_id, array_to_string(list_slice(t, i, i + {k - 1}), ' ') AS s
  FROM toks, UNNEST(generate_series(1, greatest(1, len(t) - {k - 1}))) AS u(i)
),
shx AS (
  SELECT doc_id, CAST('0x' || substr(md5(s), 1, 8) AS BIGINT) AS hx FROM sh
),
sig AS (
  SELECT doc_id,
    {mins}
  FROM shx GROUP BY doc_id
),
bkt AS (
  SELECT doc_id, 0 AS band, md5(concat_ws('|', mh0, mh1)) AS bucket FROM sig
  UNION ALL SELECT doc_id, 1, md5(concat_ws('|', mh2, mh3)) FROM sig
  UNION ALL SELECT doc_id, 2, md5(concat_ws('|', mh4, mh5)) FROM sig
  UNION ALL SELECT doc_id, 3, md5(concat_ws('|', mh6, mh7)) FROM sig
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bkt a JOIN bkt b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)"""


# q19_minhash_lsh_pairs RETIRED (r14, registry hygiene — VERDICT r13
# item 5): its exact operator call (minhash_lsh_pairs over documents)
# still runs inside q20 (which feeds the SAME pairs into Jaccard
# verification against the SAME formula-twin oracle CTE below), q91
# (clusters over the pairs) and q95 (the incremental probe), and q74
# keeps the MLlib MinHashLSH production path oracled — five green
# demos of one banded-LSH kernel was the slack the registry needed
# back. bench.py's dedup slot moved to q74 (the production path).


@q(
    "q20_jaccard_neardup",
    oracle=f"""
WITH {_minhash_cte()},
shd AS (SELECT DISTINCT doc_id, s FROM sh
        WHERE doc_id IN (SELECT id_a FROM pairs UNION SELECT id_b FROM pairs)),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shd GROUP BY doc_id),
shared AS (
  SELECT p.id_a, p.id_b, COUNT(*) AS shared
  FROM pairs p
  JOIN shd a ON a.doc_id = p.id_a
  JOIN shd b ON b.doc_id = p.id_b AND b.s = a.s
  GROUP BY p.id_a, p.id_b
)
SELECT s.id_a, s.id_b,
  s.shared / (x.n + y.n - s.shared) AS jaccard
FROM shared s
JOIN sizes x ON x.doc_id = s.id_a
JOIN sizes y ON y.doc_id = s.id_b
WHERE s.shared / (x.n + y.n - s.shared) >= 0.7
""",
)
def q20_jaccard_neardup(spark, sf_dir):
    """n-gram Jaccard verification of the LSH candidates: the MinHash-
    LSH band kernel's candidate pairs, each scored by the exact
    shingle-set Jaccard inside its row (operators/dedup.py::
    jaccard_verify) — never all-pairs, and no shingle relation is
    built. The oracle computes the same scores with the shared-shingle
    join formulation."""
    docs = _t(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, "doc_id", "text", k=3, n_hashes=8, n_bands=4)
    return D.jaccard_verify(docs, pairs, "doc_id", "text", k=3, threshold=0.7)


def _simhash_sql(bits: int = 32) -> str:
    votes = ",\n    ".join(
        f"SUM(CASE WHEN (hv >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}"
        for j in range(bits)
    )
    sig = " + ".join(
        f"CASE WHEN v{j} > 0 THEN CAST(1 AS BIGINT) << {j} ELSE CAST(0 AS BIGINT) END"
        for j in range(bits)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
h AS (
  SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) AS hv FROM toks
),
v AS (
  SELECT doc_id,
    {votes}
  FROM h GROUP BY doc_id
)
SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM v
"""


@q("q22_simhash", oracle=_simhash_sql())
def q22_simhash(spark, sf_dir):
    """32-bit SimHash signatures per document (see
    operators/dedup.py::simhash — a row-local kernel: each document's
    tokens vote on the 32 bits inside its own row, with no token
    explode and no shuffle by document)."""
    docs = _t(spark, sf_dir, "documents")
    return D.simhash(docs, "doc_id", "text", bits=32)


# ===========================================================================
# similarity search
# ===========================================================================

@q(
    "q21_cosine_topk",
    oracle="""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
qs AS (SELECT vec_id, v FROM e WHERE vec_id < 8),
scored AS (
  SELECT qs.vec_id AS query_id, c.vec_id AS neighbor_id,
    round(
      list_dot_product(qs.v, c.v)
        / (sqrt(list_dot_product(qs.v, qs.v)) * sqrt(list_dot_product(c.v, c.v))),
      4) AS cosine
  FROM qs, e c WHERE qs.vec_id <> c.vec_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
""",
)
def q21_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k (the exact ANN baseline): per-row
    array-HOF dot products in double, rounded before ranking; the
    LSH-bucketed scale path is q35."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    out = SIM.cosine_topk(emb, queries, "vec_id", "embedding", k=5, round_to=4)
    return out.withColumn("rank", F.col("rank").cast("long"))


def _q35_oracle() -> str:
    bucket = SIM.srp_bucket_sql("v", n_planes=6, dim=64)
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
b AS (SELECT vec_id, v, {bucket} AS bucket FROM e),
q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < 8),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
    round(list_dot_product(q.qv, c.v)
      / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.v, c.v))),
      4) AS cosine
  FROM q JOIN b c ON q.bucket = c.bucket AND q.query_id <> c.vec_id
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored) WHERE rank <= 5
"""


@q("q35_lsh_cosine_topk", oracle=_q35_oracle())
def q35_lsh_cosine_topk(spark, sf_dir):
    """Approximate top-k via sign-random-projection buckets — the
    100 TB path: scores only same-bucket pairs (|corpus|/2^8 per
    bucket).  Oracle-stable since the bucket bits come from EXACT
    integer-scaled projections (operators/similarity.py::SRP_SCALE):
    floor(v*2^20) integers summed in int64 give the same sign on every
    engine, unlike a float dot product whose near-zero sign depends on
    summation order."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    out = SIM.lsh_cosine_topk(emb, queries, "vec_id", "embedding", k=5, n_planes=6)
    return out.withColumn("rank", F.col("rank").cast("long"))


# ===========================================================================
# text analysis
# ===========================================================================

_STOPWORD_LIST = "[" + ", ".join(f"'{s}'" for s in TX.STOPWORDS) + "]"


@q(
    "q23_text_metrics",
    oracle=f"""
WITH base AS (
  SELECT doc_id,
    len(string_split(text, ' ')) AS n_tokens,
    len(list_distinct(string_split(text, ' '))) AS n_unique,
    len(regexp_extract_all(text, '{TX.TOKEN_RE}')) AS n_tokens_bpe,
    len(list_filter(string_split(text, ' '),
        x -> list_contains({_STOPWORD_LIST}, x))) AS n_stop
  FROM documents
)
SELECT doc_id,
  CAST(n_tokens AS BIGINT) AS n_tokens,
  CAST(n_unique AS BIGINT) AS n_unique,
  CAST(n_tokens_bpe AS BIGINT) AS n_tokens_bpe,
  n_stop / n_tokens AS stopword_ratio,
  (least(n_tokens, 50) * (n_tokens + 3 * n_unique) * (2 * n_tokens - n_stop))
    / (400 * n_tokens * n_tokens) AS quality_score
FROM base
""",
)
def q23_text_metrics(spark, sf_dir):
    """Token counting (whitespace + BPE-ish regex) and quality scoring
    (length/repetition/stopword shape) — pure per-row expressions."""
    docs = _t(spark, sf_dir, "documents")
    nt = TX.n_tokens("text").cast("long")
    nu = TX.n_unique_tokens("text").cast("long")
    sw = TX.stopword_count("text").cast("long")
    return docs.select(
        "doc_id",
        nt.alias("n_tokens"),
        nu.alias("n_unique"),
        TX.token_count_regex("text").cast("long").alias("n_tokens_bpe"),
        (sw / nt).alias("stopword_ratio"),
        TX.quality_score("text").alias("quality_score"),
    )


def _lang_sql() -> str:
    score_exprs = []
    for lang, markers in sorted(TX.LANG_MARKERS.items()):
        lst = "[" + ", ".join(f"'{m}'" for m in markers) + "]"
        score_exprs.append(
            f"len(list_filter(list_distinct(string_split(text, ' ')), "
            f"x -> list_contains({lst}, x))) AS s_{lang}"
        )
    langs = sorted(TX.LANG_MARKERS)
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    whens = "\n    ".join(
        f"WHEN s_{lang} = {best} AND {best} > 0 THEN '{lang}'" for lang in langs
    )
    scores = ",\n    ".join(score_exprs)
    return f"""
WITH scored AS (
  SELECT doc_id, lang,
    {scores}
  FROM documents
),
pred AS (
  SELECT lang, CASE
    {whens}
    ELSE 'und' END AS predicted
  FROM scored
)
SELECT lang, predicted, COUNT(*) AS n_docs
FROM pred GROUP BY lang, predicted
"""


@q("q24_lang_id", oracle=_lang_sql())
def q24_lang_id(spark, sf_dir):
    """Language-ID heuristic (marker-token overlap argmax) — confusion
    counts of declared vs predicted language."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", "lang", TX.lang_id("text").alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count("*").alias("n_docs"))
    )


@q(
    "q25_fingerprint",
    oracle="""
SELECT doc_id,
  md5(array_to_string(list_sort(list_distinct(
    string_split_regex(lower(trim(text)), '\\s+'))), ' ')) AS fingerprint,
  COUNT(*) OVER (PARTITION BY md5(array_to_string(list_sort(list_distinct(
    string_split_regex(lower(trim(text)), '\\s+'))), ' '))) AS group_size
FROM documents
""",
)
def q25_fingerprint(spark, sf_dir):
    """Key-collapse document fingerprint (sorted distinct token set)
    with collision group sizes."""
    docs = _t(spark, sf_dir, "documents")
    out = docs.select("doc_id", TX.fingerprint("text").alias("fingerprint"))
    w = Window.partitionBy("fingerprint")
    return out.withColumn("group_size", F.count("*").over(w))


# ===========================================================================
# classification (C1/C2/C3)
# ===========================================================================

def _rules_sql(cfg: C.ClassifierConfig, text_expr: str) -> str:
    whens = "\n    ".join(
        f"WHEN regexp_matches({text_expr}, '(?i){pat}') THEN '{cat}'"
        for pat, cat in cfg.rules
    )
    return f"CASE\n    {whens}\n    ELSE '' END"


_TEXT_EXPR = "concat_ws(' ', coalesce(text, ''), coalesce(source, ''))"


@q(
    "q26_classify_rules",
    oracle=f"""
WITH ruled AS (
  SELECT doc_id,
    {_rules_sql(C.DEFAULT_CONFIG, _TEXT_EXPR)} AS sector
  FROM documents
)
SELECT CASE WHEN sector = '' THEN 'otros' ELSE sector END AS sector,
  COUNT(*) AS n_docs
FROM ruled GROUP BY 1
""",
)
def q26_classify_rules(spark, sf_dir):
    """C1+C3: ordered first-match regex rule chain (one Catalyst CASE
    expression compiled from config — reference
    ``src/classifier.py:52-72``), closed-domain fallback."""
    docs = _t(spark, sf_dir, "documents")
    out = C.classify_rules_only(docs, C.DEFAULT_CONFIG, ("text", "source"))
    return out.groupBy("sector").agg(F.count("*").alias("n_docs"))


_BACKEND_CFG = C.ClassifierConfig(
    categories=C.DEFAULT_CONFIG.categories,
    rules=((r"\bdup\b", "storage"),),
)

_CATS_SQL = "[" + ", ".join(f"'{c}'" for c in _BACKEND_CFG.categories) + "]"


@q(
    "q27_classify_backend",
    oracle=f"""
SELECT doc_id,
  CASE
    WHEN regexp_matches({_TEXT_EXPR}, '(?i)\\bdup\\b') THEN 'storage'
    ELSE {_CATS_SQL}[
      (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INT)
        % {len(_BACKEND_CFG.categories)}) + 1]
  END AS sector
FROM documents
""",
)
def q27_classify_backend(spark, sf_dir):
    """C1→C2→C3 full composition: a deliberately narrow rule (only the
    rare 'dup' token) so ~95% of rows flow through the pluggable
    mapInPandas batch backend (deterministic stub — the reference's
    own test strategy, ``tests/test_classifier.py:103-105``)."""
    docs = _t(spark, sf_dir, "documents")
    # payload_cols=(): only (doc_id, sector) crosses back from the
    # Python backend — mapInPandas is opaque to column pruning, so
    # without this the full text/lang/source/n_chars row rode the
    # repartition exchange and both Arrow legs (r16, guide §4)
    out = C.classify(
        docs, _BACKEND_CFG, "doc_id", ("text", "source"), payload_cols=()
    )
    return out.select("doc_id", "sector")


# ===========================================================================
# multimodal + streaming twins
# ===========================================================================

@q(
    "q34_multimodal_meta",
    oracle="""
SELECT doc_id,
  CAST(strlen(text) AS BIGINT) AS n_bytes,
  CAST(strlen(text) % 640 AS BIGINT) AS width,
  CAST((strlen(text) * 7) % 480 AS BIGINT) AS height
FROM documents
""",
)
def q34_multimodal_meta(spark, sf_dir):
    """Multimodal column plumbing: binary payload column + Arrow-
    batched mapInPandas metadata extraction (decode itself stubbed —
    see operators/multimodal.py). The byte-length arithmetic fake
    keeps the full Spark path oracle-checkable."""
    docs = _t(spark, sf_dir, "documents")
    blobs = MM.attach_blob(docs, "doc_id", "text")
    return MM.extract_media_meta(blobs, "doc_id")


@q(
    "q33_stream_daily_rollup",
    oracle=f"""
SELECT CAST(ts AS DATE) AS day, event_type,
  COUNT(*) AS n_events,
  {sql_exact_sum('value', 18, 2)} AS total_value
FROM events
GROUP BY 1, 2
""",
)
def q33_stream_daily_rollup(spark, sf_dir):
    """Structured Streaming tumbling-window rollup run to completion
    with Trigger.AvailableNow (the reference's daily micro-batch
    replay, SURVEY §1.4) — checked against the BATCH oracle: the
    streaming and batch answers must agree."""
    from .streaming.events import stream_daily_rollup

    return stream_daily_rollup(spark, sf_dir)
