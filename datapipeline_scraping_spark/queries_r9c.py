"""Round-9 third wave — two scale-path curation operators beyond the
reference's surface:

- **SQ8 quantized ANN** (q177, recall-evaluated; standalone q172
  retired into it r14): per-dimension affine int8 scalar
  quantization of the embedding corpus, integer-dot candidate
  generation over the 4x-smaller code table, exact float rerank of the
  candidates only — the compressed-index pattern (FAISS's SQ8 /
  IndexScalarQuantizer) that makes a 100 TB float32 embedding store
  scannable. Complements q35 (LSH buckets prune WHICH pairs are
  scored; SQ8 shrinks WHAT is read per scored pair — production
  stacks compose both).
- **Per-source boilerplate removal** (q173): drop EVERY copy of a
  chunk that repeats across a threshold fraction of one source's
  documents (site chrome: navigation, footers, cookie banners) — the
  CCNet/RefinedWeb pass that document-level (q13/q19) and first-wins
  paragraph (q119) dedup both leave behind.

Reference anchors: the reference has no embedding or sub-document
operators at all (its dedup is whole-row checksum first-wins,
``src/transform.py:118-126``); these extend the north-star
training-data surface SURVEY §2's "beyond the reference" mandate
covers.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from .operators import similarity as SIM
from .operators import text as TX
from .queries import _t, q

# ===========================================================================
# SQ8 scalar-quantized ANN
# ===========================================================================

_SQ8_K = 5
_SQ8_CANDIDATES = 20


# q172_sq8_quantized_ann RETIRED (r14, registry hygiene — VERDICT r13
# item 5 named the q172/q174/q177 IVF-tier overlap): q177 calls the
# IDENTICAL SIM.sq8_topk path (same k, same candidate budget) and
# hash-oracles its recall against brute-force ground truth, and q174
# oracles the composed IVF+SQ8 index — the standalone full-scan SQ8
# demo added no coverage. _SQ8_* constants stay: q174/q177 share them.

# ===========================================================================
# per-source boilerplate removal
# ===========================================================================

_BP_CHUNK = 12  # tokens per chunk (q119's paragraph stand-in)
_BP_MIN_DF = 2
_BP_FRAC = 0.05


@q(
    "q173_boilerplate_removal",
    oracle=f"""
WITH base AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
chunks AS (
  SELECT doc_id, source, pos,
    array_to_string(t[pos:pos + {_BP_CHUNK - 1}], ' ') AS chunk
  FROM (
    SELECT doc_id, source,
      unnest(generate_series(1, len(t), {_BP_CHUNK})) AS pos, t
    FROM base)
),
gd AS (SELECT source, count(DISTINCT doc_id) AS n_docs FROM base GROUP BY source),
dfc AS (
  SELECT source, chunk, count(DISTINCT doc_id) AS df FROM chunks GROUP BY 1, 2
),
boiler AS (
  SELECT dfc.source, chunk FROM dfc JOIN gd USING (source)
  WHERE df >= greatest({_BP_MIN_DF}, CAST(ceil({_BP_FRAC} * n_docs) AS BIGINT))
),
kept AS (
  SELECT doc_id, count(*) AS n_kept,
    array_to_string(list(chunk ORDER BY pos), ' ') AS clean_text
  FROM chunks ANTI JOIN boiler USING (source, chunk)
  GROUP BY doc_id
),
total AS (SELECT doc_id, source, count(*) AS n_chunks FROM chunks GROUP BY 1, 2)
SELECT t.doc_id, t.source, CAST(t.n_chunks AS BIGINT) AS n_chunks,
  CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
  md5(coalesce(k.clean_text, '')) AS clean_hash
FROM total t LEFT JOIN kept k USING (doc_id)
""",
)
def q173_boilerplate_removal(spark, sf_dir):
    """Per-source boilerplate removal
    (operators/text.py::boilerplate_strip): drop every copy of a chunk
    whose document frequency within its source reaches
    max({_BP_MIN_DF}, ceil({_BP_FRAC} * source docs)) — the repeated
    site chrome that survives both document dedup and first-wins
    paragraph dedup. Integer-exact threshold; the md5 of the
    reassembled text pins reassembly order for the oracle."""
    docs = _t(spark, sf_dir, "documents")
    return TX.boilerplate_strip(
        docs,
        "doc_id",
        "text",
        "source",
        chunk_tokens=_BP_CHUNK,
        min_df=_BP_MIN_DF,
        df_frac=_BP_FRAC,
    )


# ===========================================================================
# IVF lists of SQ8 codes — the production ANN composition
# ===========================================================================

_IVF_NPROBE = 2
_IVF_EVERY = 100

_SQ8_ENC = """list_transform(list_zip({v}, mins, steps),
    z -> CASE WHEN z[3] = 0 THEN 0
              ELSE CAST(least(255.0, greatest(0.0, floor((z[1] - z[2]) / z[3])))
                   AS INT) END)"""


@q(
    "q174_ivf_sq8_topk",
    oracle=f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % {_IVF_EVERY} = 0),
asg AS (
  SELECT vec_id, v, cid FROM (
    SELECT e.vec_id, e.v, c.cid,
      ROW_NUMBER() OVER (
        PARTITION BY e.vec_id
        ORDER BY round(list_dot_product(e.v, c.cv)
          / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))),
          4) DESC, c.cid) AS rn
    FROM e CROSS JOIN cent c)
  WHERE rn = 1
),
dims AS (
  SELECT pos, min(x) AS mn, (max(x) - min(x)) / 255.0 AS step
  FROM (SELECT unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM e)
  GROUP BY pos
),
params AS (
  SELECT list(mn ORDER BY pos) AS mins, list(step ORDER BY pos) AS steps
  FROM dims
),
enc AS (
  SELECT vec_id, cid, {_SQ8_ENC.format(v="v")} AS c FROM asg, params
),
qenc AS (
  SELECT e.vec_id AS query_id, {_SQ8_ENC.format(v="e.v")} AS qc
  FROM e, params WHERE e.vec_id < 8
),
probes AS (
  SELECT query_id, cid FROM (
    SELECT q.vec_id AS query_id, c.cid,
      ROW_NUMBER() OVER (
        PARTITION BY q.vec_id
        ORDER BY round(list_dot_product(q.v, c.cv)
          / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.cv, c.cv))),
          4) DESC, c.cid) AS rn
    FROM e q CROSS JOIN cent c WHERE q.vec_id < 8)
  WHERE rn <= {_IVF_NPROBE}
),
scored AS (
  SELECT p.query_id, enc.vec_id AS neighbor_id,
    CAST(list_dot_product(list_transform(qenc.qc, x -> CAST(x - 128 AS DOUBLE)),
                          list_transform(enc.c, x -> CAST(x - 128 AS DOUBLE)))
         AS BIGINT) AS qscore
  FROM probes p JOIN qenc ON qenc.query_id = p.query_id
                JOIN enc ON enc.cid = p.cid
  WHERE p.query_id <> enc.vec_id
),
cand AS (
  SELECT query_id, neighbor_id, qscore FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY qscore DESC, neighbor_id) AS crank
    FROM scored) WHERE crank <= {_SQ8_CANDIDATES}
),
reranked AS (
  SELECT cand.query_id, cand.neighbor_id, cand.qscore,
    round(list_dot_product(qe.v, ce.v)
      / (sqrt(list_dot_product(qe.v, qe.v)) * sqrt(list_dot_product(ce.v, ce.v))),
      4) AS cosine
  FROM cand JOIN e qe ON qe.vec_id = cand.query_id
            JOIN e ce ON ce.vec_id = cand.neighbor_id
)
SELECT query_id, neighbor_id, qscore, cosine, CAST(rank AS BIGINT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM reranked)
WHERE rank <= {_SQ8_K}
""",
)
def q174_ivf_sq8_topk(spark, sf_dir):
    """IVF lists of SQ8 codes (operators/similarity.py::ivf_sq8_topk)
    — the production ANN composition SCALE.md's SQ8 notes promise:
    the coarse quantizer prunes WHICH lists are scanned
    (nprobe/|centroids| of the corpus), SQ8 shrinks WHAT each scanned
    row reads (1/4 bytes, integer dot — exact in any addition order),
    and full-precision vectors are read only for the candidate rerank.
    FAISS IndexIVFScalarQuantizer re-expressed as three joins and two
    windows."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    out = SIM.ivf_sq8_topk(
        emb,
        queries,
        "vec_id",
        "embedding",
        k=_SQ8_K,
        nprobe=_IVF_NPROBE,
        centroid_every=_IVF_EVERY,
        candidates=_SQ8_CANDIDATES,
        round_to=4,
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


# ===========================================================================
# semantic decontamination (embedding-level eval-set leakage)
# ===========================================================================

_DECON_T = 0.99
_DECON_PLANES = 6


def _q175_oracle() -> str:
    bucket = SIM.srp_bucket_sql("v", n_planes=_DECON_PLANES, dim=64)
    return f"""
WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
ev AS (SELECT vec_id AS eval_id, v FROM base WHERE vec_id % 37 = 0),
leaked AS (SELECT eval_id + 2000000 AS vec_id, v FROM ev),
train AS (
  SELECT vec_id, v FROM base WHERE vec_id % 37 <> 0
  UNION ALL SELECT * FROM leaked
),
tb AS (SELECT vec_id AS train_id, v AS tv, {bucket} AS bucket FROM train),
eb AS (SELECT eval_id, v AS ev2, {bucket} AS bucket FROM ev),
scored AS (
  SELECT tb.train_id, eb.eval_id,
    round(list_dot_product(tb.tv, eb.ev2)
      / (sqrt(list_dot_product(tb.tv, tb.tv)) * sqrt(list_dot_product(eb.ev2, eb.ev2))),
      4) AS cosine
  FROM tb JOIN eb USING (bucket)
)
SELECT train_id, eval_id, cosine FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY train_id ORDER BY cosine DESC, eval_id) AS rn
  FROM scored WHERE cosine >= {_DECON_T}
) WHERE rn = 1
"""


@q("q175_semantic_decontamination", oracle=_q175_oracle())
def q175_semantic_decontamination(spark, sf_dir):
    """Embedding-level eval-set leakage scan
    (operators/similarity.py::semantic_decontaminate) — the SEMANTIC
    complement of q109's exact n-gram decontamination, over a
    simulated leak (the eval slice re-ingested verbatim into the train
    corpus under new ids, q51's re-scan model): every leaked row must
    surface at cosine 1.0 with its eval source as the argmax match.
    Only same-SRP-bucket pairs are scored (the benchmark side
    broadcasts; the corpus is touched once)."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    evalset = emb.filter(F.col("vec_id") % 37 == 0)
    leaked = evalset.withColumn("vec_id", F.col("vec_id") + 2_000_000)
    train = emb.filter(F.col("vec_id") % 37 != 0).unionByName(leaked)
    return SIM.semantic_decontaminate(
        train,
        evalset,
        "vec_id",
        "embedding",
        threshold=_DECON_T,
        n_planes=_DECON_PLANES,
    )


# ===========================================================================
# zero-copy table clone (Delta CLONE role)
# ===========================================================================


@q(
    "q176_zero_copy_clone",
    oracle="""
WITH base AS (
  SELECT o_orderkey AS id, o_orderpriority AS pri,
    CAST(o_totalprice AS DECIMAL(18,2)) AS price
  FROM orders
),
v2 AS (SELECT * FROM base WHERE id % 4 <> 0),
src_final AS (
  SELECT id, pri,
    CASE WHEN pri = '1-URGENT' THEN price + 10 ELSE price END AS price
  FROM v2
),
clone_final AS (SELECT * FROM v2 WHERE id % 3 <> 0),
u AS (
  SELECT 'src' AS tbl, pri, price FROM src_final
  UNION ALL
  SELECT 'clone' AS tbl, pri, price FROM clone_final
)
SELECT tbl, pri, COUNT(*) AS n_orders,
  CAST(CAST(SUM(price) AS DECIMAL(38,6)) AS DOUBLE) AS sum_price
FROM u GROUP BY tbl, pri
""",
)
def q176_zero_copy_clone(spark, sf_dir):
    """Zero-copy table clone (operators/txn.py::ManifestTable.clone_to
    — Delta ``CLONE`` with deep-clone semantics at shallow-clone cost):
    an orders ledger takes a merge-on-read DELETE, is CLONED (version-1
    snapshot hardlinked, zero data bytes — inode-asserted in-query),
    and the two tables then DIVERGE (UPDATE on the source, DELETE on
    the clone) with each lineage invisible to the other. The output
    aggregates BOTH final states so the oracle replays both lineages;
    the clone also survives aggressive source GC by construction
    (links own refcounts — test-pinned in test_txn.py)."""
    import glob

    from .operators.txn import ManifestTable
    from .queries import _key
    from .streaming.events import SCRATCH

    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("id"),
        F.col("o_orderpriority").alias("pri"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    src_root = os.path.join(SCRATCH, f"clonesrc_{_key(sf_dir)}")
    dst_root = os.path.join(SCRATCH, f"clonedst_{_key(sf_dir)}")
    src = ManifestTable(src_root, retention_sec=3600)
    dst = ManifestTable(dst_root, retention_sec=3600)
    # build-once per corpus: clone + divergence and their zero-copy
    # inode asserts are a pure function of the input
    if (src.version() or 0) != 3 or (dst.version() or 0) != 2:
        shutil.rmtree(src_root, ignore_errors=True)
        shutil.rmtree(dst_root, ignore_errors=True)
        src = ManifestTable(src_root, retention_sec=3600)
        src.commit(orders.repartition(8, "id"))
        src.delete_where(spark, "id % 4 = 0", ["id"])

        dst = src.clone_to(dst_root)

        # zero-copy assertion: every cloned parquet shares its source
        # inode
        def _inos(tbl):
            snap = os.path.join(tbl.root, tbl.last_snapshot)
            return {
                os.path.basename(p): os.stat(p).st_ino
                for p in glob.glob(snap + "/**/*.parquet", recursive=True)
            }

        src_inos = {
            os.path.basename(p): os.stat(p).st_ino
            for p in glob.glob(
                src.snapshot_path(2) + "/**/*.parquet", recursive=True
            )
        }
        assert _inos(dst) == src_inos and src_inos

        # diverge: each table's DML is invisible to the other
        src.update_where(
            spark, "pri = '1-URGENT'", {"price": "price + 10"}, ["id"]
        )
        dst.delete_where(spark, "id % 3 = 0", ["id"])

    u = src.read(spark).withColumn("tbl", F.lit("src")).unionByName(
        dst.read(spark).withColumn("tbl", F.lit("clone"))
    )
    from .functions.numeric import to_double

    return u.groupBy("tbl", "pri").agg(
        F.count("*").cast("long").alias("n_orders"),
        to_double(F.sum("price").cast("decimal(38,6)")).alias("sum_price"),
    )


# ===========================================================================
# recall evaluation of the quantized indexes
# ===========================================================================

_COS4 = (
    "round(list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
    " * sqrt(list_dot_product({b}, {b}))), 4)"
)
_CDOT = (
    "CAST(list_dot_product(list_transform({a}, x -> CAST(x - 128 AS DOUBLE)),"
    " list_transform({b}, x -> CAST(x - 128 AS DOUBLE))) AS BIGINT)"
)


def _q177_oracle() -> str:
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
qs AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT qs.query_id, c.vec_id AS neighbor_id,
      ROW_NUMBER() OVER (PARTITION BY qs.query_id
        ORDER BY {_COS4.format(a='qs.qv', b='c.v')} DESC, c.vec_id) AS rank
    FROM qs, e c WHERE qs.query_id <> c.vec_id) WHERE rank <= {_SQ8_K}
),
dims AS (
  SELECT pos, min(x) AS mn, (max(x) - min(x)) / 255.0 AS step
  FROM (SELECT unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM e)
  GROUP BY pos
),
params AS (
  SELECT list(mn ORDER BY pos) AS mins, list(step ORDER BY pos) AS steps
  FROM dims
),
codes AS (SELECT vec_id, {_SQ8_ENC.format(v="v")} AS c FROM e, params),
qcod AS (SELECT vec_id AS query_id, c AS qc FROM codes WHERE vec_id < 8),
sq8cand AS (
  SELECT query_id, neighbor_id FROM (
    SELECT qcod.query_id, codes.vec_id AS neighbor_id,
      ROW_NUMBER() OVER (PARTITION BY qcod.query_id
        ORDER BY {_CDOT.format(a='qc', b='c')} DESC, codes.vec_id) AS crank
    FROM qcod, codes WHERE qcod.query_id <> codes.vec_id)
  WHERE crank <= {_SQ8_CANDIDATES}
),
sq8top AS (
  SELECT query_id, neighbor_id FROM (
    SELECT s.query_id, s.neighbor_id,
      ROW_NUMBER() OVER (PARTITION BY s.query_id
        ORDER BY {_COS4.format(a='qe.v', b='ce.v')} DESC, s.neighbor_id) AS rank
    FROM sq8cand s JOIN e qe ON qe.vec_id = s.query_id
                   JOIN e ce ON ce.vec_id = s.neighbor_id) WHERE rank <= {_SQ8_K}
),
cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % {_IVF_EVERY} = 0),
asg AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        ORDER BY {_COS4.format(a='e.v', b='c.cv')} DESC, c.cid) AS rn
    FROM e CROSS JOIN cent c) WHERE rn = 1
),
enc AS (
  SELECT codes.vec_id, asg.cid, codes.c
  FROM codes JOIN asg ON asg.vec_id = codes.vec_id
),
probes AS (
  SELECT query_id, cid FROM (
    SELECT q.vec_id AS query_id, c.cid,
      ROW_NUMBER() OVER (PARTITION BY q.vec_id
        ORDER BY {_COS4.format(a='q.v', b='c.cv')} DESC, c.cid) AS rn
    FROM e q CROSS JOIN cent c WHERE q.vec_id < 8) WHERE rn <= {_IVF_NPROBE}
),
ivfcand AS (
  SELECT query_id, neighbor_id FROM (
    SELECT p.query_id, enc.vec_id AS neighbor_id,
      ROW_NUMBER() OVER (PARTITION BY p.query_id
        ORDER BY {_CDOT.format(a='qcod.qc', b='enc.c')} DESC, enc.vec_id) AS crank
    FROM probes p JOIN qcod ON qcod.query_id = p.query_id
                  JOIN enc ON enc.cid = p.cid
    WHERE p.query_id <> enc.vec_id) WHERE crank <= {_SQ8_CANDIDATES}
),
ivftop AS (
  SELECT query_id, neighbor_id FROM (
    SELECT s.query_id, s.neighbor_id,
      ROW_NUMBER() OVER (PARTITION BY s.query_id
        ORDER BY {_COS4.format(a='qe.v', b='ce.v')} DESC, s.neighbor_id) AS rank
    FROM ivfcand s JOIN e qe ON qe.vec_id = s.query_id
                   JOIN e ce ON ce.vec_id = s.neighbor_id) WHERE rank <= {_SQ8_K}
),
hs AS (SELECT x.query_id AS qid, COUNT(*) AS n
       FROM exact x JOIN sq8top USING (query_id, neighbor_id) GROUP BY 1),
hi AS (SELECT x.query_id AS qid, COUNT(*) AS n
       FROM exact x JOIN ivftop USING (query_id, neighbor_id) GROUP BY 1)
SELECT q.query_id AS query_id,
  CAST(coalesce(hs.n, 0) AS BIGINT) AS sq8_hits,
  coalesce(hs.n, 0) / {_SQ8_K} AS sq8_recall,
  CAST(coalesce(hi.n, 0) AS BIGINT) AS ivfsq8_hits,
  coalesce(hi.n, 0) / {_SQ8_K} AS ivfsq8_recall
FROM (SELECT query_id FROM qs) q
LEFT JOIN hs ON hs.qid = q.query_id
LEFT JOIN hi ON hi.qid = q.query_id
"""


@q("q177_quantized_ann_recall", oracle=_q177_oracle())
def q177_quantized_ann_recall(spark, sf_dir):
    """Recall@{k} of BOTH quantized indexes (the full-scan SQ8 tier and
    q174's IVF-SQ8) against the exact brute-force ground truth — q94's
    'measure, don't guess' discipline applied to the compressed tier.
    The gap between the two columns is exactly the nprobe budget: SQ8
    full-scan loses only to quantization error (0.975 here), IVF-SQ8
    additionally to unprobed lists (0.7 at nprobe=2 of 5 lists) — the
    tunable recall/cost dial a production deployment sets per
    workload."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    exact = SIM.cosine_topk(emb, queries, "vec_id", "embedding", k=_SQ8_K).select(
        "query_id", "neighbor_id"
    )
    sq8 = SIM.sq8_topk(
        emb, queries, "vec_id", "embedding", k=_SQ8_K,
        candidates=_SQ8_CANDIDATES,
    ).select("query_id", "neighbor_id")
    ivf = SIM.ivf_sq8_topk(
        emb, queries, "vec_id", "embedding", k=_SQ8_K,
        nprobe=_IVF_NPROBE, centroid_every=_IVF_EVERY,
        candidates=_SQ8_CANDIDATES,
    ).select("query_id", "neighbor_id")
    hs = exact.join(sq8, ["query_id", "neighbor_id"]).groupBy("query_id").agg(
        F.count("*").alias("ns")
    )
    hi = exact.join(ivf, ["query_id", "neighbor_id"]).groupBy("query_id").agg(
        F.count("*").alias("ni")
    )
    ns = F.coalesce(F.col("ns"), F.lit(0))
    ni = F.coalesce(F.col("ni"), F.lit(0))
    return (
        queries.select(F.col("vec_id").alias("query_id"))
        .join(hs, "query_id", "left")
        .join(hi, "query_id", "left")
        .select(
            "query_id",
            ns.cast("long").alias("sq8_hits"),
            (ns / F.lit(_SQ8_K)).alias("sq8_recall"),
            ni.cast("long").alias("ivfsq8_hits"),
            (ni / F.lit(_SQ8_K)).alias("ivfsq8_recall"),
        )
    )


# ===========================================================================
# metadata-only DROP COLUMN (column-mapping family, q169's twin)
# ===========================================================================


@q(
    "q178_drop_column",
    oracle="""
WITH base AS (
  SELECT o_orderkey AS id, o_orderpriority AS pri,
    CAST(o_totalprice AS DECIMAL(18,2)) AS price,
    o_orderstatus AS ship
  FROM orders
),
v2 AS (SELECT * FROM base WHERE id % 5 <> 0),
v3 AS (
  SELECT id, pri,
    CASE WHEN pri = '2-HIGH' THEN price + 7 ELSE price END AS price
  FROM v2
)
SELECT pri, COUNT(*) AS n_orders,
  CAST(CAST(SUM(amount) AS DECIMAL(38,6)) AS DOUBLE) AS sum_amount
FROM (SELECT id, pri, price AS amount FROM v3)
GROUP BY pri
""",
)
def q178_drop_column(spark, sf_dir):
    """Metadata-only DROP COLUMN
    (operators/txn.py::ManifestTable.drop_column — Delta
    ``ALTER TABLE DROP COLUMN`` under column mapping, q169's twin): an
    orders ledger takes a merge-on-read DELETE, a merge-on-read
    UPDATE, then DROPS a column (hardlinked files untouched — the
    physical bytes linger until the next rewrite; every read path
    projects them away) and RENAMES another onto the read path. The
    aggregate never sees the dropped column; the oracle replays the
    surviving lineage. Time travel to pre-drop versions still carries
    the column (test-pinned), and the next full rewrite materializes
    the logical schema."""
    from .operators.txn import ManifestTable
    from .queries import _key
    from .streaming.events import SCRATCH

    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("id"),
        F.col("o_orderpriority").alias("pri"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
        F.col("o_orderstatus").alias("ship"),
    )
    root = os.path.join(SCRATCH, f"dropcol_{_key(sf_dir)}")
    tbl = ManifestTable(root, retention_sec=3600)
    # build memoized per corpus (574f795 pattern): the 5-version ALTER
    # chain is a pure function of the corpus; shape asserts run at
    # build time, every run answers from the committed ledger
    if (tbl.version() or 0) != 5:
        shutil.rmtree(root, ignore_errors=True)
        tbl = ManifestTable(root, retention_sec=3600)
        tbl.commit(orders.repartition(8, "id"))
        tbl.delete_where(spark, "id % 5 = 0", ["id"])
        tbl.update_where(
            spark, "pri = '2-HIGH'", {"price": "price + 7"}, ["id"]
        )
        tbl.drop_column("ship")
        tbl.rename_column("price", "amount")
        assert tbl.read(spark).columns == ["id", "pri", "amount"]
        # the pre-drop version still carries the column
        assert "ship" in tbl.read(spark, version=3).columns
    from .functions.numeric import to_double

    return tbl.read(spark).groupBy("pri").agg(
        F.count("*").cast("long").alias("n_orders"),
        to_double(F.sum("amount").cast("decimal(38,6)")).alias("sum_amount"),
    )


# ===========================================================================
# metadata-only ADD COLUMN + merge-on-read backfill
# ===========================================================================


@q(
    "q179_add_column_backfill",
    oracle="""
WITH base AS (
  SELECT o_orderkey AS id, o_orderpriority AS pri,
    CAST(o_totalprice AS DECIMAL(18,2)) AS price
  FROM orders
),
b AS (
  SELECT id, pri, price,
    CASE WHEN pri IN ('1-URGENT', '2-HIGH')
         THEN CAST(price + 1 AS DECIMAL(18,2)) END AS bonus
  FROM base
)
SELECT pri, COUNT(*) AS n_orders,
  CAST(COUNT(bonus) AS BIGINT) AS n_backfilled,
  CAST(CAST(SUM(bonus) AS DECIMAL(38,6)) AS DOUBLE) AS sum_bonus
FROM b GROUP BY pri
""",
)
def q179_add_column_backfill(spark, sf_dir):
    """Metadata-only ADD COLUMN + merge-on-read backfill
    (operators/txn.py::ManifestTable.add_column — the third leg of the
    ALTER family, with q169 rename and q178 drop): the column lands as
    one log write (hardlinked files, reads null-fill with the declared
    type), then an UPDATE backfills a slice merge-on-read — the
    standard zero-downtime column rollout on a 100 TB table, no
    rewrite until the next compaction materializes. The aggregate
    counts backfilled vs null rows per priority; the oracle replays
    the lineage. Pre-add time travel has no such column
    (test-pinned)."""
    from .operators.txn import ManifestTable
    from .queries import _key
    from .streaming.events import SCRATCH

    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("id"),
        F.col("o_orderpriority").alias("pri"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    root = os.path.join(SCRATCH, f"addcol_{_key(sf_dir)}")
    tbl = ManifestTable(root, retention_sec=3600)
    # build memoized per corpus (574f795 pattern)
    if (tbl.version() or 0) != 3:
        shutil.rmtree(root, ignore_errors=True)
        tbl = ManifestTable(root, retention_sec=3600)
        tbl.commit(orders.repartition(8, "id"))
        tbl.add_column("bonus", "decimal(18,2)")
        tbl.update_where(
            spark,
            "pri IN ('1-URGENT', '2-HIGH')",
            {"bonus": "CAST(price + 1 AS DECIMAL(18,2))"},
            ["id"],
        )
        assert tbl.read(spark).columns == ["id", "pri", "price", "bonus"]
    from .functions.numeric import to_double

    return tbl.read(spark).groupBy("pri").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.count("bonus").cast("long").alias("n_backfilled"),
        to_double(F.sum("bonus").cast("decimal(38,6)")).alias("sum_bonus"),
    )
