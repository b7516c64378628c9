"""Deduplication operators — exact, first-wins, MinHash+LSH, SimHash,
n-gram Jaccard (H4 in SURVEY.md §2.3 + the north-star LLM-pipeline
dedup surface).

The reference's only dedup is batch-local first-wins by primary key
(``src/storage.py:108-117``), needed because ``ON CONFLICT`` cannot
touch the same row twice. The engine generalizes to the dedup family a
training-data pipeline needs at 100 TB.

Scale design:
- Exact/first-wins: key-partitioned window/groupBy — shards by key,
  one shuffle, no driver state.
- MinHash signatures are computed with ARRAY HIGHER-ORDER FUNCTIONS
  entirely within a row (no shuffle, no explode, whole-stage codegen):
  ``sig[s] = array_min(transform(shingles, x -> md5(s || ':' || x)))``.
  Lexicographic min over md5 hex strings is a uniform min-hash.
- LSH banding: each doc emits ``n_bands`` (band, bucket) rows; the
  candidate-pair self-join shuffles on the bucket key only. Bucket
  skew (giant near-dup clusters) is handled by AQE skew-join.
- Verification (n-gram Jaccard) runs only on candidate pairs via the
  shared-shingle join formulation — never all-pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def spread_small_input(df: DataFrame, key) -> DataFrame:
    """Hash-repartition ``df`` by ``key`` ONLY when its optimizer-
    estimated size is too small to parallelize the scan (guide §2.3/
    §2.4, r16): the explode/md5 operators below historically always
    repartitioned so a one-file local corpus would not funnel the
    hashing through a single task — but that constant-on shuffle moves
    the ENTIRE text payload, which at 100 TB is a full corpus shuffle
    bought for nothing (the scan is already thousands of tasks, and
    the downstream per-doc aggregations are map-side combinable, so
    they shuffle signature-sized partials either way).

    Decision rule: estimated bytes >= defaultParallelism ×
    ``spark.sql.files.maxPartitionBytes`` means the file source
    already splits into >= one task per core — skip the shuffle.
    Below that — or when the estimate is UNKNOWN (non-file sources
    report the Long.MaxValue sentinel; anything >= 2^60 is a default,
    not a measurement) — repartition with an explicit count (AQE
    would coalesce a column-only repartition of a small input back to
    one task). The estimate comes from the optimized logical plan's
    stats (file sizes for scans) — a driver-side probe, no job.
    Results are partitioning-independent either way; only the plan
    changes."""
    spark = df.sparkSession
    n_part = spark.sparkContext.defaultParallelism
    # narrow except (r17, ADVICE): a broken JVM accessor should fall
    # back to the safe always-shuffle path for THAT reason only — a
    # blanket except would silently revert the optimization on any
    # Spark upgrade. Py4J signals missing methods as Py4JError OR
    # AttributeError depending on which hop fails.
    try:
        from py4j.protocol import Py4JError
    except ImportError:  # pragma: no cover - py4j ships with pyspark
        Py4JError = RuntimeError
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        # JVM accessor: the conf string form varies ("134217728" vs
        # "128MB") across who built the session. Read it fresh each
        # time — it is runtime-settable, so a memo would go stale (and
        # the lookup is a single py4j hop; the stats() probe above is
        # the expensive part of this function).
        max_pb = int(
            spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
        )
    except (Py4JError, AttributeError, TypeError, ValueError):
        est, max_pb = 0, 128 * 1024 * 1024  # unknown => keep the old behavior
    if n_part * max_pb <= est < 1 << 60:  # positively known big input
        return df
    return df.repartition(n_part, F.col(key) if isinstance(key, str) else key)


# --------------------------------------------------------------------------
# exact / first-wins
# --------------------------------------------------------------------------

def first_wins(
    df: DataFrame,
    keys: list[str],
    order: list[str],
    *,
    strategy: str = "agg",
) -> DataFrame:
    """Deterministic first-wins dedup (H4). The reference keeps the
    first record per ``row_hash`` in list order
    (``src/storage.py:108-117``); list order does not survive a
    shuffle, so the engine requires an explicit tiebreak order.
    ``dropDuplicates`` is the lax, nondeterministic version —
    intentionally not used.

    ``strategy="agg"`` (default): ``min_by(struct(<row>),
    struct(<order>))`` hash aggregate — PARTIAL (map-side) combinable,
    so the shuffle carries one candidate row per key per map partition
    instead of every row, and there is no per-partition sort. At
    100 TB on a skewed key this is the difference between shuffling
    the hot key's billion rows and shuffling ``n_map_partitions``
    rows. NULL order values rank FIRST under struct comparison —
    measured identical (incl. multi-column ranks) to the window
    form's NULLS FIRST on Spark 4.1 and pinned by
    ``tests/test_operators.py::
    test_first_wins_agg_equals_window_strategy_with_nulls``, so the
    two strategies agree on every totally-ordered input, nullable or
    not (ADVICE r7 raised this; the divergence it predicted does not
    occur — only genuine ties diverge, and those are nondeterministic
    in BOTH forms).

    ``strategy="window"``: the ranking-window form (SURVEY.md §7.3);
    same semantics, full per-key sort — use it to cross-check or when
    a ranking column is also needed.

    Both are deterministic whenever ``order`` totally orders each
    key's rows (ties make ANY formulation nondeterministic)."""
    if strategy == "window":
        w = Window.partitionBy(*keys).orderBy(*[F.col(c) for c in order])
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    payload = F.struct(*[F.col(c) for c in df.columns])
    rank = F.struct(*[F.col(c) for c in order])
    return (
        df.groupBy(*[F.col(k) for k in keys])
        .agg(F.min_by(payload, rank).alias("__r"))
        .select("__r.*")
    )


def exact_dup_groups(df: DataFrame, content_hash: Column, id_col: str) -> DataFrame:
    """Exact-duplicate grouping by content hash: every row annotated
    with its group size and the keeper (min id). Filter
    ``group_size > 1`` for the duplicates themselves."""
    out = df.withColumn("content_hash", content_hash)
    w = Window.partitionBy("content_hash")
    return out.withColumn("group_size", F.count("*").over(w)).withColumn(
        "keeper_id", F.min(id_col).over(w)
    )


# --------------------------------------------------------------------------
# shingling + MinHash + LSH
# --------------------------------------------------------------------------

def shingles(text: Column | str, k: int = 3, sep: str = " ") -> Column:
    """Word k-shingles as an array column, computed row-locally:
    tokens[i..i+k-1] joined by ``sep`` for i in 1..max(1, n-k+1)."""
    c = F.col(text) if isinstance(text, str) else text
    toks = F.split(c, " ")
    n = F.greatest(F.lit(1), F.size(toks) - F.lit(k - 1))
    return F.transform(
        F.sequence(F.lit(1), n), lambda i: F.concat_ws(sep, F.slice(toks, i, k))
    )


def minhash_signature(shingle_col: Column, n_hashes: int = 8) -> list[Column]:
    """One min-hash per seed: lexicographic min of seed-salted md5 over
    the shingle set. min() over a multiset equals min() over the
    distinct set, so no dedup pass is needed.

    WARNING — do not use on hot paths: evaluating ``md5`` inside
    ``transform`` over a ``concat_ws(slice(...))``-built array returns
    NONDETERMINISTIC garbage on Spark 4.1 (observed: different wrong
    hashes every run — unsafe string buffer reuse inside nested HOF
    codegen). Kept for documentation/regression; the engine path is
    :func:`minhash_signatures` (explode + map-side-combinable min
    aggregate), which is verified against DuckDB and pure Python."""
    return [
        F.array_min(
            F.transform(shingle_col, lambda x, s=s: F.md5(F.concat(F.lit(f"{s}:"), x)))
        ).alias(f"mh{s}")
        for s in range(n_hashes)
    ]


# Universal-hash family for MinHash seeds: h_s(x) = (A[s]*x + B[s]) mod P
# over the md5-derived 32-bit shingle hash x. One md5 per shingle (the
# expensive part) + n_hashes cheap integer affine maps, instead of
# n_hashes md5 calls — ~8x less hashing on the hot path, and every op
# (multiply/add/mod on int64) is replicable bit-for-bit in DuckDB.
# A[s] < 2^20 and x < 2^32 keep A*x + B < 2^52: exact in int64 (and in
# a double, should an engine route through one).
MINHASH_P = 4294967291  # largest prime < 2^32
MINHASH_A = (999983, 999979, 999961, 999959, 999953, 999931, 999917, 999907)
MINHASH_B = (2147483647, 2147483629, 2147483587, 2147483579,
             2147483563, 2147483549, 2147483543, 2147483497)


def shingle_relation(
    df: DataFrame, id_col: str, text_col: str, *, k: int = 3
) -> DataFrame:
    """Exploded k-shingle occurrence relation ``[id, s, hx]`` — the ONE
    relation both the MinHash signature aggregation and the Jaccard
    verification derive from.  ``s`` is the shingle string (Jaccard
    joins on it exactly; a 32-bit hash join would admit collisions),
    ``hx`` its md5-derived 32-bit integer hash (what MinHash minimizes).

    When one query feeds both consumers (q20), ``persist()`` this and
    pass it via their ``shingle_rel`` parameter so the explode + md5 —
    the dominant cost of the whole near-dup pipeline — runs once.
    Persist contract: the caller materializes its result before
    releasing the cache (``df.unpersist()`` or
    ``spark.catalog.clearCache()``); ``persist()`` defaults to
    MEMORY_AND_DISK so an exploded 100 TB corpus spills rather than
    OOMs, but recomputing (no persist) is the better trade when the
    two consumers run in separate jobs anyway.

    A too-small input is repartitioned by id first (a one-file corpus
    = one task would serialize the md5 work); a large input skips the
    shuffle entirely — see :func:`spread_small_input` (r16).

    Codegen note: the naive ``explode(transform(sequence, i ->
    concat_ws(slice(toks, i, k))))`` nests higher-order functions,
    which whole-stage codegen MISCOMPILES on Spark 4.1 (see
    :func:`minhash_signature`) and evaluates pathologically slowly in
    interpreted mode (JIT-cold paths: 1-10 s run-to-run variance on
    the same 5k-doc input).  This formulation explodes the start index
    FIRST (one plain generator) and builds each shingle with flat
    ``slice``/``concat_ws`` projections — no nested HOF, so it stays
    inside whole-stage codegen and needs no per-query conf opt-out."""
    toks = F.split(F.col(text_col), " ")
    n = F.greatest(F.lit(1), F.size(F.col("__toks")) - F.lit(k - 1))
    return (
        # scale-adaptive (r16): repartition only when the input is too
        # small for the file source to parallelize — see
        # spread_small_input; a 100 TB scan skips the text shuffle
        spread_small_input(df.select(F.col(id_col), F.col(text_col)), id_col)
        .select(F.col(id_col), toks.alias("__toks"))
        .select(
            F.col(id_col),
            F.col("__toks"),
            F.explode(F.sequence(F.lit(1), n)).alias("__i"),
        )
        .select(
            F.col(id_col),
            F.concat_ws(" ", F.slice(F.col("__toks"), F.col("__i"), F.lit(k))).alias("s"),
        )
        .withColumn(
            "hx",
            F.conv(F.substring(F.md5(F.col("s")), 1, 8), 16, 10).cast("long"),
        )
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    n_hashes: int = 8,
    shingle_rel: DataFrame | None = None,
) -> DataFrame:
    """Per-doc MinHash signature table via explode + grouped min.

    One explode (k-shingles), ONE md5 per shingle reduced to a 32-bit
    int, then ``n_hashes`` parallel MIN aggregates over cheap affine
    derived hashes — all map-side combinable, so the shuffle carries
    only one partially-aggregated signature row per doc per map task.
    min() over the occurrence multiset equals min() over the distinct
    shingle set, so no dedup pass is needed.

    Pass ``shingle_rel`` (a persisted :func:`shingle_relation`) to
    share the explode with a downstream Jaccard verification."""
    sh = (
        shingle_rel
        if shingle_rel is not None
        else shingle_relation(df, id_col, text_col, k=k)
    ).select(F.col(id_col), F.col("hx"))
    aggs = [
        F.min(
            (F.lit(MINHASH_A[s]) * F.col("hx") + F.lit(MINHASH_B[s]))
            % F.lit(MINHASH_P)
        ).alias(f"mh{s}")
        for s in range(n_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def lsh_buckets(
    sig_df: DataFrame, id_col: str, n_hashes: int = 8, n_bands: int = 4
) -> DataFrame:
    """Band the signature (rows per doc = n_bands) and hash each band
    to a bucket id. Docs sharing any band bucket are candidates."""
    rows_per_band = n_hashes // n_bands
    entries = []
    for b in range(n_bands):
        parts = [F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        entries.append(
            F.struct(
                F.lit(b).alias("band"), F.md5(F.concat_ws("|", *parts)).alias("bucket")
            )
        )
    return (
        sig_df.select(id_col, F.explode(F.array(*entries)).alias("e"))
        .select(id_col, F.col("e.band").alias("band"), F.col("e.bucket").alias("bucket"))
    )


def lsh_candidate_pairs(buckets: DataFrame, id_col: str) -> DataFrame:
    """Distinct candidate pairs (a < b) from any shared band bucket.
    The self-join shuffles on (band, bucket) only."""
    # the self-join consumes the bucket table twice; persist so the
    # signature chain upstream executes once
    buckets = buckets.persist()
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.band") == F.col("b.band"),
                F.col("a.bucket") == F.col("b.bucket"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    n_hashes: int = 8,
    n_bands: int = 4,
    shingle_rel: DataFrame | None = None,
) -> DataFrame:
    """End-to-end near-dup candidate pairs over a text column."""
    sig = minhash_signatures(
        df, id_col, text_col, k=k, n_hashes=n_hashes, shingle_rel=shingle_rel
    )
    return lsh_candidate_pairs(lsh_buckets(sig, id_col, n_hashes, n_bands), id_col)


def incremental_lsh_pairs(
    corpus: DataFrame,
    incoming: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    n_hashes: int = 8,
    n_bands: int = 4,
) -> DataFrame:
    """Candidate pairs of an INCOMING batch against an EXISTING corpus
    — the continuous-ingestion dedup shape: the corpus bucket table is
    the stored index (in production: a maintained table, appended per
    batch), the incoming batch computes its own buckets and probes with
    one join on (band, bucket).  No corpus self-join ever runs, so
    per-batch cost is O(|batch| + matched buckets), not O(|corpus|²) —
    the property that makes dedup sustainable at 100 TB ingest.

    Output: (id_corpus, id_new) distinct candidate pairs; verify with
    :func:`jaccard_verify` over ``corpus ∪ incoming``."""
    bkt_c = lsh_buckets(
        minhash_signatures(corpus, id_col, text_col, k=k, n_hashes=n_hashes),
        id_col, n_hashes, n_bands,
    ).select(F.col(id_col).alias("id_corpus"), "band", "bucket")
    bkt_i = lsh_buckets(
        minhash_signatures(incoming, id_col, text_col, k=k, n_hashes=n_hashes),
        id_col, n_hashes, n_bands,
    ).select(F.col(id_col).alias("id_new"), "band", "bucket")
    return (
        bkt_i.join(bkt_c, on=["band", "bucket"])
        .select("id_corpus", "id_new")
        .distinct()
    )


# --------------------------------------------------------------------------
# n-gram Jaccard verification (runs on candidate pairs only)
# --------------------------------------------------------------------------

def jaccard_verify(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    threshold: float = 0.7,
    shingle_rel: DataFrame | None = None,
) -> DataFrame:
    """Exact k-shingle Jaccard for each candidate pair via the
    shared-shingle join formulation:

        J(a,b) = |A ∩ B| / (|A| + |B| - |A ∩ B|)

    computed from distinct-shingle counts — scalable because only
    candidate docs are exploded, and the intersection is a join on the
    shingle value, never an all-pairs comparison.

    Pass ``shingle_rel`` (a persisted :func:`shingle_relation`, already
    exploded over ALL docs) to reuse the explode the MinHash signature
    pass already paid for; the candidate semi-join then filters the
    cached relation instead of re-exploding.  Persist contract: see
    :func:`shingle_relation`."""
    # pairs is consumed three times (candidate-id semi join, a-side,
    # b-side); persist so the LSH candidate pipeline runs once
    pairs = pairs.persist()
    cand_ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .union(pairs.select("id_b"))
        .distinct()
    )
    if shingle_rel is not None:
        # already-exploded (and typically persisted) relation: filter
        # the cached rows to candidates — no second explode
        base = shingle_rel.join(cand_ids, on=id_col, how="left_semi").select(
            F.col(id_col), F.col("s").alias("sh")
        )
    else:
        # standalone path: filter docs to candidates FIRST, then pay
        # the explode only for candidate docs (codegen-safe index
        # explode via shingle_relation; the unused hx column is pruned)
        base = shingle_relation(
            df.join(cand_ids, on=id_col, how="left_semi"), id_col, text_col, k=k
        ).select(F.col(id_col), F.col("s").alias("sh"))
    sh = (
        base.distinct()
        # reused three ways below (a-side, b-side, sizes): persist the
        # candidate shingle table instead of recomputing the explode
        .persist()
    )
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n"))
    a = sh.select(F.col(id_col).alias("id_a"), "sh")
    b = sh.select(F.col(id_col).alias("id_b"), "sh")
    shared = (
        pairs.join(a, on="id_a")
        .join(b, on=["id_b", "sh"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("shared"))
    )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("n_b"))
    # NB: the ratio is emitted unrounded — int/int division is the
    # same double on every engine, while round(x, 6) is NOT (Java
    # rounds the shortest decimal repr, C rounds the binary value;
    # they disagree on exact .xxxxxx5 boundaries).
    return (
        shared.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn(
            "jaccard",
            F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def _hex32(c: Column) -> Column:
    """First 8 hex chars of md5 as a non-negative 32-bit value in a
    LongType — cross-engine reproducible (DuckDB:
    ``('0x' || substr(md5(x),1,8))::BIGINT``)."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 32) -> DataFrame:
    """32-bit SimHash per document: each token votes ±1 on every bit of
    its 32-bit hash; the signature sets bits with positive vote sums.
    Implemented as one explode + ``bits`` parallel conditional sums —
    a single map-side-combinable aggregation, no per-bit explode."""
    toks = (
        # scale-adaptive repartition (r16): see spread_small_input
        spread_small_input(df.select(F.col(id_col), F.col(text_col)), id_col)
        .select(F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("tok"))
        .withColumn("h", _hex32(F.col("tok")))
    )
    # SQL strings, parsed on the JVM: a Column built node by node
    # costs one py4j call per node, ~14 per bit
    votes = [
        F.expr(
            f"sum(CASE WHEN (shiftright(`h`, {j}) & 1) = 1 THEN 1 ELSE -1 END)"
            f" AS v{j}"
        )
        for j in range(bits)
    ]
    agg = toks.groupBy(id_col).agg(*votes)
    sig = F.expr(" + ".join(
        f"CASE WHEN `v{j}` > 0 THEN shiftleft(CAST(1 AS BIGINT), {j}) "
        "ELSE CAST(0 AS BIGINT) END"
        for j in range(bits)
    ))
    return agg.select(F.col(id_col), sig.alias("simhash"))


def positional_shingles(
    df: DataFrame, id_col: str, text_col: str, *, k: int
) -> DataFrame:
    """Exploded k-token window relation ``[id, pos, s]`` where ``pos``
    is the 1-based start token index — :func:`shingle_relation` with
    the position kept, for consumers that need to know WHERE a window
    sits (span dedup, winnowing-style fingerprint localization).

    Same codegen-safe shape as :func:`shingle_relation` (explode the
    start index, flat slice/concat_ws — nested HOFs miscompile on
    Spark 4.1), same explicit repartition so a one-file corpus does
    not serialize the explode onto a single task."""
    toks = F.split(F.col(text_col), " ")
    return (
        # scale-adaptive repartition (r16): see spread_small_input
        spread_small_input(df.select(F.col(id_col), toks.alias("__toks")), id_col)
        .filter(F.size(F.col("__toks")) >= k)
        .select(
            F.col(id_col),
            F.col("__toks"),
            F.explode(
                F.sequence(F.lit(1), F.size(F.col("__toks")) - F.lit(k - 1))
            ).alias("pos"),
        )
        .select(
            F.col(id_col),
            F.col("pos"),
            F.concat_ws(" ", F.slice(F.col("__toks"), F.col("pos"), F.lit(k))).alias(
                "s"
            ),
        )
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 7,
    min_count: int = 2,
) -> DataFrame:
    """Exact duplicate-SPAN statistics per document — the distributed
    form of Lee et al. 2021's suffix-array substring dedup
    ("Deduplicating Training Data Makes Language Models Better"): any
    k-token window whose exact text occurs >= ``min_count`` times
    anywhere in the corpus marks its tokens as duplicated; per
    document, overlapping/adjacent marked windows merge into maximal
    spans. Returns ``[id, n_dup_spans, dup_tokens, max_span]`` for
    documents that have at least one duplicated span (left-join onto
    the corpus and coalesce to zero for full coverage). Repeats WITHIN
    one document count toward ``min_count`` too, as in the paper.

    Uniform window length makes the merge a pure gap-and-island test —
    a new span starts when ``pos - prev > k`` (windows at gap <= k
    cover a contiguous token range), so the union of windows in an
    island is exactly ``[min_pos, max_pos + k - 1]`` and
    ``span_len = max_pos - min_pos + k`` with no per-token bookkeeping.

    Sub-document granularity the reference cannot express (its dedup is
    whole-row checksum first-wins, ``src/transform.py:118-126``).

    Scale: one shuffle groups exploded windows by exact text (map-side
    partial counts collapse the unique majority before the wire), one
    shuffle joins the duplicated set back (at 100 TB key both sides on
    the 128-bit digest instead of the raw string — same plan, narrower
    rows), and the island merge runs in an id-partitioned window whose
    partitioning both downstream aggregates reuse (hash(id) satisfies
    the (id, island) clustering — no fourth exchange)."""
    sh = positional_shingles(df, id_col, text_col, k=k)
    dup = sh.groupBy("s").count().filter(F.col("count") >= min_count).select("s")
    hits = sh.join(dup, "s").select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    isl = (
        hits.withColumn("prev", F.lag("pos").over(w))
        .withColumn(
            "flag",
            F.when(
                F.col("prev").isNull() | (F.col("pos") - F.col("prev") > k), F.lit(1)
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "island",
            F.sum("flag").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    spans = isl.groupBy(id_col, "island").agg(
        (F.max("pos") - F.min("pos") + F.lit(k)).alias("span_len")
    )
    return spans.groupBy(id_col).agg(
        F.count("*").alias("n_dup_spans"),
        F.sum("span_len").cast("long").alias("dup_tokens"),
        F.max("span_len").cast("long").alias("max_span"),
    )
