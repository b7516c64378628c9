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
- SimHash, the MinHash-LSH band rows and the Jaccard verification are
  row-local ``mapInArrow`` kernels (pyarrow, numpy and hashlib; no
  pandas). Each signature depends on one document only, so no token
  or shingle ever becomes a Spark row and nothing is shuffled by
  document: the kernels find tokens as byte spans of the Arrow text
  buffer and md5 each span in place (``sources/skipping.py::
  md5_spans``). MinHash is one md5 per shingle reduced to 32 bits,
  then ``n_hashes`` affine maps ``(A*hx + B) mod P`` and a min.
- LSH banding: each doc emits ``n_bands`` (band, bucket) rows; the
  candidate-pair self-join shuffles on the bucket key only. Bucket
  skew (giant near-dup clusters) is handled by AQE skew-join.
- Verification (exact shingle-set Jaccard) runs only on candidate
  pairs: the pairs join both texts and a kernel scores each pair in
  its row — never all-pairs.

The kernels reproduce Spark's ``split(text, ' ')`` byte for byte, so
their outputs equal the Spark-expression forms (``shingle_relation``,
the DuckDB oracles of q20/q22/q91/q95). Their id contract: ids are
unique. A repeated id gets one signature per row; its texts' shingles
or tokens are not merged.
"""

from __future__ import annotations

import binascii
import codecs
import functools

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.skipping import binary_spans, md5_spans


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
# row-local Arrow kernels: tokens, shingles and hashes of one batch
# --------------------------------------------------------------------------

def _jvm_replacement(exc: UnicodeDecodeError) -> tuple[str, int]:
    """Decode-error handler that reproduces the JVM's ``new String(bytes,
    UTF_8)``, which Spark's ``split`` runs before it splits: one U+FFFD
    per malformed sequence, as Python's ``replace`` gives, except that
    an encoded surrogate (lead ``ED`` then ``A0``-``BF``) is ONE U+FFFD
    with its next continuation byte, where ``replace`` gives one per
    byte. Pinned against Spark's own ``split`` by ``tests/
    test_properties.py::test_dedup_kernels_read_texts_as_spark_split_does``."""
    b, i = exc.object, exc.start
    if b[i] == 0xED and i + 1 < len(b) and 0xA0 <= b[i + 1] <= 0xBF:
        cont = i + 2 < len(b) and 0x80 <= b[i + 2] <= 0xBF
        return "\ufffd", i + (3 if cont else 2)
    return "\ufffd", exc.end


codecs.register_error("jvm_replace", _jvm_replacement)


def _tokens(texts):
    """Spark's ``split(text, ' ')`` of each text of a NULL-free pyarrow
    string array, as byte spans of one buffer: returns ``(data, starts,
    ends, offs)``, where text j's tokens are ``data[starts[i]:ends[i]]``
    for i in ``offs[j]..offs[j + 1] - 1``; split on the single byte
    ``' '``, empty tokens kept, so at least one per text. A valid UTF-8
    text is split as its raw bytes. One that is not is first re-encoded
    as the JVM decodes it (:func:`_jvm_replacement`), because Spark
    splits the decoded string: its tokens, and their md5, are the
    replaced bytes."""
    import pyarrow as pa

    try:
        texts.validate(full=True)
    except pa.ArrowInvalid:
        raw = texts.cast(pa.large_binary()).to_pylist()
        texts = pa.array([v.decode("utf-8", "jvm_replace") for v in raw], pa.large_string())
    data, t_off = binary_spans(texts)
    buf = np.frombuffer(data, dtype=np.uint8)
    spaces = t_off[0] + np.flatnonzero(buf[t_off[0] : t_off[-1]] == 0x20)
    # a token starts at its text's start or after a space and ends at a
    # space or its text's end; equal positions of adjacent texts tie
    starts = np.sort(np.concatenate((t_off[:-1], spaces + 1)))
    ends = np.sort(np.concatenate((spaces, t_off[1:])))
    offs = np.concatenate(([0], np.cumsum(np.diff(np.searchsorted(spaces, t_off)) + 1)))
    return data, starts, ends, offs


def _ranges(starts, sizes) -> tuple[np.ndarray, np.ndarray]:
    """The concatenated ``range(s, s + n)`` of each ``(s, n)``, and the
    offsets of each range in it."""
    offs = np.concatenate(([0], np.cumsum(sizes)))
    return np.repeat(starts - offs[:-1], sizes) + np.arange(offs[-1]), offs


def _shingles(texts, k: int):
    """Word k-shingles of each text of a pyarrow string array, as
    :func:`shingle_relation` builds them: for i in 1..max(1, n-k+1),
    tokens i..i+k-1 (all n when n < k) joined by ``' '``; a NULL text
    is one ``''`` shingle, as ``concat_ws`` of its NULL token array is.
    Tokens are separated by one space, so a shingle is the text's byte
    span from its first token's start to its last token's end. Returns
    ``(data, starts, ends, offs)`` as :func:`_tokens` does, with text
    j's shingles, repeats included, at ``offs[j]..offs[j + 1] - 1``."""
    import pyarrow.compute as pc

    data, starts, ends, t_off = _tokens(pc.fill_null(texts, ""))
    ntok = np.diff(t_off)
    first, offs = _ranges(t_off[:-1], np.maximum(1, ntok - (k - 1)))
    last = first + np.repeat(np.minimum(ntok, k), np.diff(offs)) - 1
    return data, starts[first], ends[last], offs


def _hx(data, starts, ends) -> np.ndarray:
    """Spark's ``conv(substring(md5(s), 1, 8), 16, 10)`` of each span:
    the first 32 bits of its md5, big-endian, as int64."""
    digests = md5_spans(data, starts, ends)
    return np.frombuffer(digests, dtype=">u4")[::4].astype(np.int64)


def _md5_hex(strings):
    """Spark's ``md5`` of each element of a pyarrow string array: its
    lowercase hex digest, as a pyarrow string array."""
    import pyarrow as pa

    data, offs = binary_spans(strings)
    hexed = binascii.hexlify(md5_spans(data, offs[:-1], offs[1:]))
    hex_offs = np.arange(len(strings) + 1, dtype=np.int32) * 32
    return pa.Array.from_buffers(
        pa.string(), len(strings), [None, pa.py_buffer(hex_offs), pa.py_buffer(hexed)]
    )


def _simhash_batches(batches, bits: int):
    """mapInArrow kernel of :func:`simhash` over ``(id, text)``."""
    import pyarrow as pa

    for batch in batches:
        keep = batch.column(1).is_valid()  # a NULL text votes on nothing
        ids, texts = batch.column(0).filter(keep), batch.column(1).filter(keep)
        if not len(ids):
            continue
        data, starts, ends, offs = _tokens(texts)
        h = _hx(data, starts, ends)
        n = np.diff(offs)
        sig = np.zeros(len(ids), dtype=np.int64)
        for j in range(bits):
            ones = np.add.reduceat((h >> j) & 1, offs[:-1])
            sig |= (2 * ones > n).astype(np.int64) << j  # +1/-1 votes sum > 0
        yield pa.record_batch([ids, pa.array(sig)], names=[batch.schema.names[0], "simhash"])


def _band_batches(batches, k: int, n_hashes: int, n_bands: int):
    """mapInArrow kernel of :func:`lsh_bands` over ``(id, text)``."""
    import pyarrow as pa
    import pyarrow.compute as pc

    rows = n_hashes // n_bands
    for batch in batches:
        n = batch.num_rows
        if not n:
            continue
        data, starts, ends, offs = _shingles(batch.column(1), k)
        hx = _hx(data, starts, ends)
        mh = [
            pa.array(
                np.minimum.reduceat((MINHASH_A[s] * hx + MINHASH_B[s]) % MINHASH_P, offs[:-1])
            ).cast(pa.string())
            for s in range(n_hashes)
        ]
        buckets = [
            _md5_hex(pc.binary_join_element_wise(*mh[b * rows : (b + 1) * rows], "|"))
            for b in range(n_bands)
        ]
        yield pa.record_batch(
            [
                pa.concat_arrays([batch.column(0)] * n_bands),
                pa.array(np.repeat(np.arange(n_bands, dtype=np.int32), n)),
                pa.concat_arrays(buckets),
            ],
            names=[batch.schema.names[0], "band", "bucket"],
        )


def _jaccard_batches(batches, k: int, threshold: float):
    """mapInArrow kernel of :func:`jaccard_verify` over ``(id_a, id_b,
    text_a, text_b)``."""
    import pyarrow as pa

    for batch in batches:
        n = batch.num_rows
        if not n:
            continue
        # one integer code per distinct shingle string: exact sets, no
        # hash collisions
        index: dict = {}
        keys = []
        for col in (2, 3):
            data, starts, ends, offs = _shingles(batch.column(col), k)
            code = np.fromiter(
                (index.setdefault(data[s:e].tobytes(), len(index))
                 for s, e in zip(starts.tolist(), ends.tolist())),
                dtype=np.int64, count=len(starts),
            )
            keys.append((np.repeat(np.arange(n), np.diff(offs)), code))
        m = len(index)
        a, b = (np.unique(pair * m + code) for pair, code in keys)
        n_a = np.bincount(a // m, minlength=n)
        n_b = np.bincount(b // m, minlength=n)
        shared = np.bincount(np.intersect1d(a, b, assume_unique=True) // m, minlength=n)
        # int/int -> double, as Spark's `/` divides two counts. The
        # ratio is emitted unrounded: the division is the same double on
        # every engine, while round(x, 6) is NOT (Java rounds the
        # shortest decimal repr, C the binary value; they disagree on
        # exact .xxxxxx5 boundaries)
        jac = shared / (n_a + n_b - shared)
        keep = pa.array((shared > 0) & (jac >= threshold))
        yield pa.record_batch(
            [batch.column(0).filter(keep), batch.column(1).filter(keep),
             pa.array(jac).filter(keep)],
            names=["id_a", "id_b", "jaccard"],
        )


# --------------------------------------------------------------------------
# shingling + MinHash + LSH
# --------------------------------------------------------------------------

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
    """Exploded k-shingle occurrence relation ``[id, s, hx]``, one row
    per shingle occurrence, for consumers that count or join on the
    shingles themselves (repetition statistics, benchmark
    contamination). ``s`` is the shingle string, ``hx`` its
    md5-derived 32-bit integer hash. The near-dup operators below never
    build it: their kernels shingle each document inside its own row.

    A too-small input is repartitioned by id first (a one-file corpus
    = one task would serialize the md5 work); a large input skips the
    shuffle entirely — see :func:`spread_small_input` (r16).

    Codegen note: the naive ``explode(transform(sequence, i ->
    concat_ws(slice(toks, i, k))))`` nests higher-order functions,
    which whole-stage codegen MISCOMPILES on Spark 4.1 (md5 inside such
    a ``transform`` returned different wrong hashes run to run) and
    evaluates pathologically slowly in interpreted mode.  This
    formulation explodes the start index FIRST (one plain generator)
    and builds each shingle with flat ``slice``/``concat_ws``
    projections — no nested HOF, so it stays inside whole-stage
    codegen."""
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


def lsh_bands(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    n_hashes: int = 8,
    n_bands: int = 4,
) -> DataFrame:
    """MinHash-LSH band rows ``[id, band, bucket]``, ``n_bands`` per
    document, computed inside each document's row by one ``mapInArrow``
    kernel: no shingle row exists and nothing shuffles by document.

    Per document: its distinct k-shingles (:func:`shingle_relation`'s
    shingles, a NULL text one ``''`` shingle) each hash to ``hx``, the
    first 32 bits of their md5; signature ``mh[s] = min((A[s]*hx +
    B[s]) mod P)`` for s < ``n_hashes``; band b is ``md5(concat_ws('|',
    mh[b*r .. b*r+r-1]))`` with ``r = n_hashes // n_bands``. Two
    documents sharing any (band, bucket) are candidates.

    Id contract: ids are unique. A repeated id gets bands per row; its
    texts' shingles are not merged into one signature. The id column
    keeps its input type."""
    if not 1 <= n_bands <= n_hashes <= len(MINHASH_A):
        raise ValueError(
            f"need 1 <= n_bands <= n_hashes <= {len(MINHASH_A)}, "
            f"got n_hashes={n_hashes}, n_bands={n_bands}"
        )
    docs = spread_small_input(df.select(F.col(id_col), F.col(text_col)), id_col)
    schema = T.StructType(
        [docs.schema[id_col], T.StructField("band", T.IntegerType()),
         T.StructField("bucket", T.StringType())]
    )
    kernel = functools.partial(_band_batches, k=k, n_hashes=n_hashes, n_bands=n_bands)
    return docs.mapInArrow(kernel, schema)


def lsh_candidate_pairs(buckets: DataFrame, id_col: str) -> DataFrame:
    """Distinct candidate pairs (a < b) from any shared band bucket.
    The self-join shuffles on (band, bucket) only. Nothing is cached:
    AQE reuses the exchange both sides share (``ReusedExchange``), so
    no cache entry outlives the call."""
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
    """End-to-end near-dup candidate pairs over a text column: the
    :func:`lsh_bands` rows self-joined on (band, bucket). Ids must be
    unique (see :func:`lsh_bands`). ``shingle_rel`` is accepted for
    callers that still pass a :func:`shingle_relation` and is not
    read: the band kernel shingles each document in its own row."""
    return lsh_candidate_pairs(
        lsh_bands(df, id_col, text_col, k=k, n_hashes=n_hashes, n_bands=n_bands),
        id_col,
    )


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
    :func:`jaccard_verify` over ``corpus ∪ incoming``. Ids must be
    unique within each side (see :func:`lsh_bands`)."""
    def bands(df, name):
        return lsh_bands(
            df, id_col, text_col, k=k, n_hashes=n_hashes, n_bands=n_bands
        ).select(F.col(id_col).alias(name), "band", "bucket")

    return (
        bands(incoming, "id_new")
        .join(bands(corpus, "id_corpus"), on=["band", "bucket"])
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
    """Exact k-shingle Jaccard ``[id_a, id_b, jaccard]`` of each
    candidate pair of ``pairs`` (``id_a``, ``id_b``; distinct pairs, as
    :func:`lsh_candidate_pairs` gives) whose score is at least
    ``threshold``:

        J(a,b) = |A ∩ B| / (|A| + |B| - |A ∩ B|)

    over the distinct-shingle sets of :func:`lsh_bands`. The pairs
    join both texts by id, and one ``mapInArrow`` kernel compares the
    two shingle sets inside each pair's row: only candidate pairs are
    scored, never all pairs, and no shingle row exists. A pair that
    shares no shingle gives no row.

    Id contract: ids are unique in ``df`` (a repeated id yields one
    row per matching text, not the Jaccard of the merged shingle sets).
    The id columns keep the types they have in ``pairs``.
    ``shingle_rel`` is accepted for callers that still pass a
    :func:`shingle_relation` and is not read."""
    texts = df.select(F.col(id_col), F.col(text_col))

    def side(s):
        return texts.select(
            F.col(id_col).alias(f"id_{s}"), F.col(text_col).alias(f"text_{s}")
        )

    both = pairs.select("id_a", "id_b").join(side("a"), "id_a").join(side("b"), "id_b")
    schema = T.StructType(
        [both.schema["id_a"], both.schema["id_b"],
         T.StructField("jaccard", T.DoubleType())]
    )
    kernel = functools.partial(_jaccard_batches, k=k, threshold=threshold)
    return both.select("id_a", "id_b", "text_a", "text_b").mapInArrow(kernel, schema)


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 32) -> DataFrame:
    """SimHash ``[id, simhash]`` per document: each
    token of Spark's ``split(text, ' ')`` votes ±1 on every bit of its
    32-bit md5 prefix, once per occurrence; the signature sets the bits
    with positive vote sums. A NULL text gives no row, an empty text is
    one empty token. Computed inside each document's row by one
    ``mapInArrow`` kernel, so no token row exists and nothing shuffles
    by document.

    Id contract: ids are unique. A repeated id gets one row per text;
    its texts' votes are not summed. The id column keeps its input
    type."""
    docs = spread_small_input(df.select(F.col(id_col), F.col(text_col)), id_col)
    schema = T.StructType([docs.schema[id_col], T.StructField("simhash", T.LongType())])
    return docs.mapInArrow(functools.partial(_simhash_batches, bits=bits), schema)


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
