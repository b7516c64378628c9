"""Similarity search over embedding columns (north-star operator;
substrate: the ``embeddings`` table, ``array<float>`` dim 64).

Two strategies:
- :func:`cosine_topk` — brute-force top-k: exact, the correctness
  baseline. Dot products are per-row array HOFs (JVM-side, no Python);
  the only shuffle is the final per-query top-k window over
  |queries| × |corpus| scored rows. Fine when the query set is small.
- :func:`lsh_cosine_topk` — random-hyperplane (SRP) bucketed variant:
  at 100 TB the corpus side is bucketed by an r-bit sign hash; probing
  compares only same-bucket vectors, trading recall for a
  |corpus|/2^r reduction in scored pairs. Hyperplanes are derived
  deterministically from md5 so results are reproducible.

All arithmetic is done in double after an explicit float->double cast
so results are bit-identical to the DuckDB oracle; similarities are
rounded before ranking so rank order is stable cross-engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def as_double(vec: Column | str) -> Column:
    c = F.col(vec) if isinstance(vec, str) else vec
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Index-ordered fold — same summation order as the oracle."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    k: int = 5,
    round_to: int = 4,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Output: (query_id, neighbor_id, cosine, rank); self-matches
    excluded; ties broken by neighbor id for determinism."""
    # norms are hoisted BELOW the join (r16, guide §1.2 per-task work):
    # array HOFs evaluate interpreted (no codegen), and norm() inside
    # the pair projection would re-fold each vector once per PAIR —
    # |Q|·|C| folds — instead of once per row. Same doubles, same
    # result: norm(v) is a deterministic function of the array, and
    # the cosine expression multiplies the identical values.
    q = queries.select(
        F.col(id_col).alias("query_id"),
        as_double(vec_col).alias("qv"),
    ).withColumn("qn", norm(F.col("qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        as_double(vec_col).alias("cv"),
    ).withColumn("cn", norm(F.col("cv")))
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("qv"), F.col("cv"))
                / (F.col("qn") * F.col("cn")),
                round_to,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# SRP integer scale: vectors are float32 read as double; v * 2^20 is an
# EXACT product (power-of-two scaling never rounds), floor() of it is an
# exact integer, and with dim=64, |v|<~10 the signed sum stays far below
# 2^53 — so the projection is the same number on every engine in every
# addition order, and bucket assignment is oracle-stable.  (A raw float
# dot product flips sign near 0 depending on summation order, which is
# why a float-SRP bucket cannot carry a cross-engine oracle.)
SRP_SCALE = 1 << 20


def srp_signs(p: int, dim: int) -> list[int]:
    """±1 hyperplane components for plane ``p``: md5(p:i) parity —
    deterministic, data-independent, replicable in any engine (the
    constants are baked into generated oracle SQL as literals)."""
    import hashlib

    return [
        1 if int(hashlib.md5(f"{p}:{i}".encode()).hexdigest()[:8], 16) % 2 == 0
        else -1
        for i in range(dim)
    ]


def srp_bucket(vec_col: str, n_planes: int = 8, dim: int = 64) -> Column:
    """Sign-random-projection bucket id of the ``DOUBLE[]`` column
    ``vec_col``: bit p = sign(v · h_p) with the dot product computed
    over ``floor(v[i] * 2^20)`` integers (see SRP_SCALE) so the bit
    pattern is bit-for-bit reproducible across engines and
    partitionings. An INT.

    The family is one SQL string, parsed once on the JVM: a Column
    built node by node costs one py4j call per node, ~0.4 s for the
    8 × 64 sign literals. Each plane is a flat ``aggregate`` over a
    ``zip_with`` (no higher-order function inside a lambda), and the
    bits add left to right."""
    bits = []
    for p in range(n_planes):
        signs = ", ".join(str(s) for s in srp_signs(p, dim))
        proj = (
            f"aggregate(zip_with(`{vec_col}`, array({signs}), "
            f"(x, y) -> floor(x * {float(SRP_SCALE)}D) * y), "
            "CAST(0 AS BIGINT), (x, y) -> x + y)"
        )
        bits.append(f"CASE WHEN {proj} >= 0 THEN shiftleft(1, {p}) ELSE 0 END")
    return F.expr(" + ".join(bits))


def srp_bucket_sql(vec_expr: str, n_planes: int = 8, dim: int = 64) -> str:
    """DuckDB expression computing the SAME bucket id as
    :func:`srp_bucket` over a ``DOUBLE[]`` SQL expression: the signed
    integer projection is a list_dot_product of exact integer-valued
    doubles (< 2^53, so double arithmetic is exact too)."""
    scaled = f"list_transform({vec_expr}, x -> floor(x * {float(SRP_SCALE)}))"
    bits = []
    for p in range(n_planes):
        signs = ", ".join(f"{s}.0" for s in srp_signs(p, dim))
        bits.append(
            f"(CASE WHEN list_dot_product({scaled}, [{signs}]) >= 0 "
            f"THEN {1 << p} ELSE 0 END)"
        )
    return "(" + " + ".join(bits) + ")"


def cosine_neardup_pairs(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    threshold: float = 0.99,
    round_to: int = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (exact all-pairs kernel).

    Output: (id_a, id_b, cosine) with id_a < id_b and
    round(cosine, round_to) >= threshold.

    Scale note: all-pairs is the VERIFICATION kernel — at 100 TB run it
    only on candidate pairs from an SRP-bucket join (:func:`srp_bucket`,
    same composition as MinHash->Jaccard in operators/dedup.py). The
    exact form here is what the oracle can replicate bit-for-bit;
    the bucketed variant is exercised rows-only by q35."""
    # norms are per-VECTOR quantities: compute once per row before the
    # pair join, not once per pair (an O(n) vs O(n^2) term — measured
    # ~3x on the all-pairs kernel). The per-pair work is the dot alone.
    base = vectors.select(
        F.col(id_col).alias("vid"), as_double(vec_col).alias("v")
    ).withColumn("nrm", norm(F.col("v")))
    a = base.select(
        F.col("vid").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    b = base.select(
        F.col("vid").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")),
                round_to,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def cosine_neardup_pairs_blocked(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    threshold: float = 0.99,
    round_to: int = 4,
    n_blocks: int | None = None,
) -> DataFrame:
    """Exact all-pairs cosine near-dup via a BLOCK-MATRIX kernel:
    vectors are hash-assigned to ``n_blocks`` blocks, each block packed
    into one row, and every block pair (upper triangle incl. diagonal)
    is scored with one Arrow-batched numpy matmul — the standard GEMM
    formulation of the brute-force verification stage.

    Same output contract as :func:`cosine_neardup_pairs`
    (id_a < id_b, round(cosine, round_to) >= threshold); ~10x faster
    at sf0.1 because the n² dot products run as vectorized BLAS inside
    a pandas worker instead of per-pair JVM expression folds.

    Scale notes: block packing is one shuffle (groupBy block); the
    block-pair relation has B(B+1)/2 rows so work distributes evenly
    across tasks regardless of id skew; per-task memory is two blocks
    (block_size × dim doubles). All-pairs stays a VERIFICATION kernel —
    at 100 TB feed it SRP-bucket candidates (:func:`srp_bucket`), not
    the whole corpus.

    Float note: numpy sums products pairwise/SIMD while the DuckDB
    oracle folds sequentially; after round(·, 4) the difference is
    far below the last kept digit (dim-64 dots differ by ≤ a few ulp),
    and q51's gate confirms hash-equality in practice."""
    spark = vectors.sparkSession
    if n_blocks is None:
        n_blocks = spark.sparkContext.defaultParallelism
    base = vectors.select(
        F.col(id_col).alias("vid"), as_double(vec_col).alias("v")
    ).withColumn("block", F.pmod(F.hash(F.col("vid")), F.lit(n_blocks)))
    packed = base.groupBy("block").agg(
        F.collect_list(F.struct("vid", "v")).alias("items")
    ).select(
        "block",
        F.transform("items", lambda x: x["vid"]).alias("ids"),
        F.transform("items", lambda x: x["v"]).alias("vecs"),
    )
    pa = packed.select(
        F.col("block").alias("ba"), F.col("ids").alias("ids_a"),
        F.col("vecs").alias("vecs_a"),
    )
    pb = packed.select(
        F.col("block").alias("bb"), F.col("ids").alias("ids_b"),
        F.col("vecs").alias("vecs_b"),
    )
    block_pairs = pa.join(pb, F.col("ba") <= F.col("bb")).repartition(
        n_blocks, F.col("ba"), F.col("bb")
    )

    def score(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out_a, out_b, out_c = [], [], []
            for _, row in pdf.iterrows():
                ids_a = np.asarray(row["ids_a"], dtype=np.int64)
                ids_b = np.asarray(row["ids_b"], dtype=np.int64)
                va = np.array([np.asarray(x) for x in row["vecs_a"]])
                vb = np.array([np.asarray(x) for x in row["vecs_b"]])
                sims = (va @ vb.T) / np.outer(
                    np.linalg.norm(va, axis=1), np.linalg.norm(vb, axis=1)
                )
                sims = np.round(sims, round_to)
                ii, jj = np.nonzero(sims >= threshold)
                if len(ii) == 0:
                    continue
                ia, ib = ids_a[ii], ids_b[jj]
                keep = ia != ib
                lo, hi = np.minimum(ia, ib), np.maximum(ia, ib)
                # diagonal block pairs see each unordered pair twice
                # (i,j) and (j,i) — keep one orientation
                if row["ba"] == row["bb"]:
                    keep &= ia < ib
                out_a.append(lo[keep])
                out_b.append(hi[keep])
                out_c.append(sims[ii[keep], jj[keep]])
            if out_a:
                yield pd.DataFrame(
                    {
                        "id_a": np.concatenate(out_a),
                        "id_b": np.concatenate(out_b),
                        "cosine": np.concatenate(out_c),
                    }
                )

    return block_pairs.mapInPandas(
        score, schema="id_a long, id_b long, cosine double"
    )


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str = "v",
    *,
    round_to: int = 4,
) -> DataFrame:
    """IVF list assignment: each vector goes to its max-cosine centroid
    (rounded before argmax, centroid-id tiebreak => deterministic).
    The centroid table is broadcast — it is small by construction —
    so assignment is a map-only stage at any corpus size."""
    # norms hoisted below the broadcast join (r16, guide §1.2): HOF
    # folds run interpreted, and assignment scores |corpus|×|centroids|
    # pairs — computing each side's norm once per ROW instead of once
    # per pair removes two folds from the hot loop. Identical doubles
    # (same arrays, same multiply order), so the rounded argmax — and
    # the assignment — is unchanged. The helper columns are dropped on
    # return: the output schema is part of the operator contract.
    c = centroids.select(
        F.col("cid"), F.col("cv")
    ).withColumn("__cn", norm(F.col("cv")))
    scored = vectors.withColumn("__vn", norm(F.col(vec_col))).join(
        F.broadcast(c)
    ).select(
        F.col(id_col),
        F.col(vec_col),
        F.col("cid"),
        F.round(
            dot(F.col(vec_col), F.col("cv"))
            / (F.col("__vn") * F.col("__cn")),
            round_to,
        ).alias("csim"),
    )
    w = Window.partitionBy(id_col).orderBy(F.col("csim").desc(), F.col("cid"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "csim")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    k: int = 5,
    nprobe: int = 2,
    centroid_every: int = 100,
    round_to: int = 4,
) -> DataFrame:
    """IVF-style approximate nearest neighbor: the corpus is
    partitioned into inverted lists by nearest centroid; each query
    scores only the lists of its ``nprobe`` nearest centroids.

    Centroids are chosen deterministically (every ``centroid_every``-th
    vector id) instead of k-means — the ANN *structure* (coarse
    quantize -> probe subset -> exact rerank) is identical, and
    determinism is what makes the result oracle-checkable. Swap the
    centroid table for trained k-means centroids in production.

    Scale: centroids broadcast (map-only assignment); the probe join
    shuffles corpus rows on cid only; per-query work drops from
    |corpus| to nprobe/|centroids| of it."""
    cent = corpus.filter((F.col(id_col) % centroid_every) == 0).select(
        F.col(id_col).alias("cid"), as_double(vec_col).alias("cv")
    )
    corp = corpus.select(F.col(id_col), as_double(vec_col).alias("v"))
    assigned = ivf_assign(corp, cent, id_col, "v", round_to=round_to)

    # norms hoisted below the joins (r16, guide §1.2): interpreted HOF
    # folds run once per ROW, not once per (query, centroid) or
    # (query, probed-list-row) pair — identical doubles, identical
    # rounded scores and ranking (see cosine_topk).
    qv = queries.select(
        F.col(id_col).alias("query_id"), as_double(vec_col).alias("qv")
    ).withColumn("__qn", norm(F.col("qv")))
    qscored = qv.join(F.broadcast(cent.withColumn("__cn", norm(F.col("cv"))))).select(
        "query_id",
        "qv",
        "__qn",
        "cid",
        F.round(
            dot(F.col("qv"), F.col("cv")) / (F.col("__qn") * F.col("__cn")),
            round_to,
        ).alias("csim"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("csim").desc(), F.col("cid"))
    probes = (
        qscored.withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") <= nprobe)
        .select("query_id", "qv", "__qn", "cid")
    )

    scored = (
        probes.join(assigned.withColumn("__vn", norm(F.col("v"))), on="cid")
        .filter(F.col("query_id") != F.col(id_col))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(
                dot(F.col("qv"), F.col("v")) / (F.col("__qn") * F.col("__vn")),
                round_to,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def lsh_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    k: int = 5,
    n_planes: int = 8,
    dim: int = 64,
    round_to: int = 4,
) -> DataFrame:
    """Approximate top-k: score only same-SRP-bucket pairs. The join
    shuffles on the bucket key; each bucket holds ~|corpus|/2^planes
    vectors, so scored pairs shrink accordingly (recall < 1)."""
    # norms hoisted below the bucket join (r16): once per row, not once
    # per same-bucket pair — identical doubles, identical ranking (see
    # cosine_topk / cosine_neardup_pairs for the argument).
    q = queries.select(
        F.col(id_col).alias("query_id"),
        as_double(vec_col).alias("qv"),
    ).withColumn("bucket", srp_bucket("qv", n_planes, dim)).withColumn(
        "qn", norm(F.col("qv"))
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        as_double(vec_col).alias("cv"),
    ).withColumn("bucket", srp_bucket("cv", n_planes, dim)).withColumn(
        "cn", norm(F.col("cv"))
    )
    scored = (
        q.join(c, on="bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("qv"), F.col("cv"))
                / (F.col("qn") * F.col("cn")),
                round_to,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
    )


# ---------------------------------------------------------------------------
# int8 scalar quantization (SQ8) — the compressed-index scale path
# ---------------------------------------------------------------------------
#
# Per-dimension affine quantization to 8-bit codes: at 100 TB the float32
# corpus (dim * 4 bytes/vector) becomes dim bytes/vector — a 4x smaller
# candidate-generation scan that also turns the hot inner loop into
# integer arithmetic. The full-precision vectors are read ONLY for the
# top-C candidates during the exact rerank (a semi-join-sized probe, never
# a second full scan). Oracle-stability: min/max are comparisons (exact),
# the affine transform + floor is deterministic IEEE double arithmetic
# mirrored verbatim in SQL, and the candidate score is an integer dot
# product (sums < 2^53 — exact in any addition order on every engine),
# so unlike a raw float score the candidate CUT cannot flip cross-engine.
#
# Candidate scoring uses CENTERED codes (code - 128): a raw-code dot
# product carries a per-candidate affine bias — expanding code =
# (x - mn)/s - 0.5 shows dot(qcode, ccode) ranks by dot(q, c)/s^2 MINUS
# (mn/s^2 + 0.5/s) * sum(c), and on near-isotropic data the bias term
# dominates (measured recall@5 0.125 raw vs 0.975 centered on the test
# corpus). Centering at 128 ≈ the code of v=0 on symmetric data cancels
# it — the standard symmetric-SQ trick — while staying exact-integer
# (|c-128| <= 128, 64-dim sums << 2^53).

def sq8_params(corpus: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-dimension (min, step) of the corpus as ONE broadcastable row
    ``(mins array<double>, steps array<double>)`` with
    ``step = (max - min) / 255``; a constant dimension has step 0 and
    always encodes to 0."""
    v = as_double(vec_col)
    dims = (
        corpus.select(F.posexplode(v).alias("pos", "x"))
        .groupBy("pos")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    )
    packed = F.sort_array(F.collect_list(F.struct("pos", "mn", "mx")))
    return dims.groupBy().agg(
        F.transform(packed, lambda s: s["mn"]).alias("mins"),
        F.transform(packed, lambda s: (s["mx"] - s["mn"]) / F.lit(255.0)).alias(
            "steps"
        ),
    )


def sq8_codes(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    params: DataFrame,
    *,
    out_id: str = "vec_id",
    out_col: str = "codes",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Encode vectors against broadcast ``params``: per dimension
    ``clamp(floor((x - min) / step), 0, 255)`` (an out-of-range QUERY
    vector clamps into the corpus range; corpus rows are in range by
    construction). Two staged ``zip_with`` projections — arithmetic
    only, the HOF-nesting shape q21's ``dot`` already pins cross-engine."""
    diff = F.zip_with(as_double(vec_col), F.col("mins"), lambda x, m: x - m)
    code = F.zip_with(
        F.col("_d"),
        F.col("steps"),
        lambda d, s: F.when(s == 0.0, F.lit(0.0))
        .otherwise(F.least(F.lit(255.0), F.greatest(F.lit(0.0), F.floor(d / s))))
        .cast("int"),
    )
    return (
        df.crossJoin(F.broadcast(params))
        .withColumn("_d", diff)
        .select(
            F.col(id_col).alias(out_id),
            code.alias(out_col),
            *[F.col(c) for c in extra_cols],
        )
    )


def _centered(codes: Column | str) -> Column:
    """Codes centered at 128 as exact-integer-valued doubles — the
    candidate-scoring representation (see the SQ8 header note on the
    affine bias a raw-code dot product carries)."""
    c = F.col(codes) if isinstance(codes, str) else codes
    return F.transform(c, lambda x: (x - F.lit(128)).cast("double"))


def sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    k: int = 5,
    candidates: int = 20,
    round_to: int = 4,
) -> DataFrame:
    """Quantize -> integer-dot candidate generation (top ``candidates``
    per query on the 4x-smaller code table) -> exact float rerank of the
    candidates only. Output: (query_id, neighbor_id, qscore, cosine,
    rank); self-matches excluded, ties broken by neighbor id."""
    params = sq8_params(corpus, vec_col)
    cc = sq8_codes(corpus, id_col, vec_col, params, out_id="neighbor_id")
    qc = sq8_codes(
        queries, id_col, vec_col, params, out_id="query_id", out_col="qcodes"
    )
    scored = (
        qc.crossJoin(cc)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            dot(_centered("qcodes"), _centered("codes"))
            .cast("bigint")
            .alias("qscore"),
        )
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.col("qscore").desc(), F.col("neighbor_id")
    )
    cand = (
        scored.withColumn("crank", F.row_number().over(wc))
        .filter(F.col("crank") <= candidates)
        .drop("crank")
    )
    # exact rerank: full-precision vectors are read only for candidates
    # (norms hoisted per row below the joins — r16, see cosine_topk)
    qv = queries.select(
        F.col(id_col).alias("query_id"), as_double(vec_col).alias("qv")
    ).withColumn("__qn", norm(F.col("qv")))
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("cv")
    ).withColumn("__cn", norm(F.col("cv")))
    reranked = (
        cand.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            "qscore",
            F.round(
                dot(F.col("qv"), F.col("cv"))
                / (F.col("__qn") * F.col("__cn")),
                round_to,
            ).alias("cosine"),
        )
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        reranked.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
    )


def ivf_sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    k: int = 5,
    nprobe: int = 2,
    centroid_every: int = 100,
    candidates: int = 20,
    round_to: int = 4,
) -> DataFrame:
    """IVF lists of SQ8 codes — the production composition
    (FAISS ``IndexIVFScalarQuantizer``): the coarse quantizer prunes
    WHICH lists a query scans (nprobe/|centroids| of the corpus), the
    scalar quantizer shrinks WHAT each scanned row reads (int8 codes,
    1/4 the bytes), and full-precision vectors are touched only for
    the final top-``candidates`` rerank.

    Pipeline: deterministic coarse centroids (every
    ``centroid_every``-th id — swap for trained k-means in
    production) -> broadcast assignment of corpus rows to lists ->
    global SQ8 params trained on the corpus (FAISS's default global
    scalar quantizer) -> per-list code tables -> probe join on cid
    only (the single shuffle of the scan) -> integer-dot candidate cut
    (exact in any addition order; deterministic cross-engine) -> exact
    cosine rerank. Output: (query_id, neighbor_id, qscore, cosine,
    rank)."""
    cent = corpus.filter((F.col(id_col) % centroid_every) == 0).select(
        F.col(id_col).alias("cid"), as_double(vec_col).alias("cv")
    )
    corp = corpus.select(F.col(id_col), as_double(vec_col).alias("v"))
    assigned = ivf_assign(corp, cent, id_col, "v", round_to=round_to)

    params = sq8_params(corpus, vec_col)
    ccodes = sq8_codes(
        assigned.withColumnRenamed(id_col, "neighbor_id"),
        "neighbor_id",
        "v",
        params,
        out_id="neighbor_id",
        extra_cols=("cid",),
    )
    qcodes = sq8_codes(
        queries, id_col, vec_col, params, out_id="query_id", out_col="qcodes"
    )

    # norms hoisted below the joins (r16, guide §1.2): once per row,
    # not once per (query, centroid) / (candidate) pair — identical
    # doubles, identical rounded scores (see cosine_topk).
    qv = queries.select(
        F.col(id_col).alias("query_id"), as_double(vec_col).alias("qv")
    ).withColumn("__qn", norm(F.col("qv")))
    qscored = qv.join(F.broadcast(cent.withColumn("__cn", norm(F.col("cv"))))).select(
        "query_id",
        "cid",
        F.round(
            dot(F.col("qv"), F.col("cv")) / (F.col("__qn") * F.col("__cn")),
            round_to,
        ).alias("csim"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("csim").desc(), F.col("cid"))
    probes = (
        qscored.withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") <= nprobe)
        .select("query_id", "cid")
    )

    scored = (
        probes.join(F.broadcast(qcodes), "query_id")
        .join(ccodes, on="cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            dot(_centered("qcodes"), _centered("codes"))
            .cast("bigint")
            .alias("qscore"),
        )
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.col("qscore").desc(), F.col("neighbor_id")
    )
    cand = (
        scored.withColumn("crank", F.row_number().over(wc))
        .filter(F.col("crank") <= candidates)
        .drop("crank")
    )
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("cv")
    ).withColumn("__cn", norm(F.col("cv")))
    reranked = (
        cand.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            "qscore",
            F.round(
                dot(F.col("qv"), F.col("cv"))
                / (F.col("__qn") * F.col("__cn")),
                round_to,
            ).alias("cosine"),
        )
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        reranked.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
    )


def semantic_decontaminate(
    train: DataFrame,
    evalset: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    threshold: float = 0.99,
    n_planes: int = 6,
    dim: int = 64,
    round_to: int = 4,
) -> DataFrame:
    """Embedding-level eval-set leakage scan — the SEMANTIC complement
    of exact n-gram decontamination: flag every training vector whose
    cosine to some eval vector reaches ``threshold`` (verbatim leaks
    score 1.0; paraphrase-level leaks score just below), reporting the
    best-matching eval item per flagged row.

    Output: (train_id, eval_id, cosine) — one row per contaminated
    training vector, eval_id = argmax-cosine match (eval-id tiebreak).

    Scale: the eval set is SMALL by nature (benchmarks), so its
    bucketed table broadcasts; the train side is touched once, map-side
    bucket-hashed, and only same-SRP-bucket pairs are scored — the
    q35 candidate discipline applied asymmetrically. Bucket bits come
    from exact integer-scaled projections (SRP_SCALE), so candidate
    membership — and therefore the flagged set — is oracle-stable."""
    # norms hoisted below the bucket join (r16): once per row, not once
    # per same-bucket pair — identical doubles, identical flags (see
    # cosine_topk for the argument).
    t = train.select(
        F.col(id_col).alias("train_id"), as_double(vec_col).alias("tv")
    ).withColumn("bucket", srp_bucket("tv", n_planes, dim)).withColumn(
        "tn", norm(F.col("tv"))
    )
    e = evalset.select(
        F.col(id_col).alias("eval_id"), as_double(vec_col).alias("ev")
    ).withColumn("bucket", srp_bucket("ev", n_planes, dim)).withColumn(
        "en", norm(F.col("ev"))
    )
    scored = (
        t.join(F.broadcast(e), on="bucket")
        .select(
            "train_id",
            "eval_id",
            F.round(
                dot(F.col("tv"), F.col("ev"))
                / (F.col("tn") * F.col("en")),
                round_to,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
    w = Window.partitionBy("train_id").orderBy(
        F.col("cosine").desc(), F.col("eval_id")
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
