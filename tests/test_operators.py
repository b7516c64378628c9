"""Operator-level unit tests: delta split routing, first-wins
determinism, merge/upsert, overlay, scrape source, multimodal
plumbing."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from datapipeline_scraping_spark.operators.delta import delta_split, ledger_records
from datapipeline_scraping_spark.operators.dedup import first_wins, minhash_lsh_pairs
from datapipeline_scraping_spark.operators.merge import (
    keyed_multi_get,
    merge_upsert,
    overlay_merge,
    union_accreted,
)
from datapipeline_scraping_spark.operators.multimodal import (
    attach_blob,
    extract_media_meta,
)
from datapipeline_scraping_spark.sources.scrape import (
    fake_fetcher,
    paginated_list_scan,
    with_retry,
)


def test_delta_split_routing(spark):
    incoming = spark.createDataFrame(
        [("k1", "h1"), ("k2", "h2-new"), ("k3", "h3")],
        "k string, row_hash string",
    )
    state = spark.createDataFrame(
        [("k1", "h1"), ("k2", "h2-old"), ("k9", "h9")],
        "k string, row_hash string",
    )
    changed, bypass = delta_split(incoming, state, "k")
    assert {r["k"] for r in changed.collect()} == {"k2", "k3"}  # changed + new
    assert {r["k"] for r in bypass.collect()} == {"k1"}  # unchanged


def test_ledger_records_shape(spark):
    df = spark.createDataFrame([("a", "h")], "k string, row_hash string")
    out = ledger_records(df, "k")
    assert out.columns == ["lookup_key", "row_hash"]


def test_first_wins_deterministic_under_shuffle(spark):
    rows = [("k", i, f"v{i}") for i in range(50)]
    df = spark.createDataFrame(rows, "k string, ord int, v string").repartition(8)
    for _ in range(3):
        out = first_wins(df, ["k"], ["ord"]).collect()
        assert len(out) == 1 and out[0]["v"] == "v0"


def test_merge_upsert_source_wins(spark):
    target = spark.createDataFrame([(1, "old"), (2, "keep")], "pk int, v string")
    source = spark.createDataFrame([(1, "new"), (3, "ins")], "pk int, v string")
    out = {r["pk"]: r["v"] for r in merge_upsert(target, source, "pk").collect()}
    assert out == {1: "new", 2: "keep", 3: "ins"}


def test_union_accreted_fills_missing(spark):
    det = spark.createDataFrame([(1, "a", "extra")], "k int, v string, d string")
    byp = spark.createDataFrame([(2, "b")], "k int, v string")
    out = union_accreted(det, byp).orderBy("k").collect()
    assert out[1]["d"] is None


def test_overlay_detail_wins_and_passthrough(spark):
    base = spark.createDataFrame([(1, "x"), (2, "y")], "k int, v string")
    detail = spark.createDataFrame([(1, "X", "n1")], "k int, v string, note string")
    out = {r["k"]: (r["v"], r["note"]) for r in overlay_merge(base, detail, "k").collect()}
    assert out == {1: ("X", "n1"), 2: ("y", None)}


def test_keyed_multi_get(spark):
    df = spark.createDataFrame([(i,) for i in range(10)], "k int")
    assert keyed_multi_get(df, "k", [1, 5]).count() == 2


def test_scrape_source_shape_and_retry(spark):
    out = paginated_list_scan(spark, max_pages=3).collect()
    assert len(out) == 30
    assert {r["page"] for r in out} == {0, 1, 2}

    attempts = []

    def flaky(page):
        attempts.append(page)
        if len(attempts) < 3:
            raise OSError("transient")
        return fake_fetcher(page)

    wrapped = with_retry(flaky, attempts=5, base_delay=0.001)
    assert "p7-r0" in wrapped(7)
    assert len(attempts) == 3


def test_scrape_source_real_http_fetcher(spark):
    """The q46 seam with a REAL HTTP fetcher: a localhost fixture
    server serving delimited pages, UA rotated per request, one page
    transiently failing so with_retry's S4 policy is exercised over
    actual sockets (reference fetch loop:
    src/scrapers/network/http_client.py:31-65)."""
    import http.server
    import threading

    from datapipeline_scraping_spark.sources.scrape import http_fetcher

    seen_uas: list[str] = []
    fail_once: set[str] = set()

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            seen_uas.append(self.headers.get("User-Agent", ""))
            if self.path == "/page/1" and "/page/1" not in fail_once:
                fail_once.add("/page/1")  # first hit on page 1: HTTP 503
                self.send_error(503)
                return
            page = int(self.path.rsplit("/", 1)[1])
            body = fake_fetcher(page).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}/page/"
        out = paginated_list_scan(
            spark, max_pages=3, fetcher=http_fetcher(url), retry_attempts=3
        ).collect()
        assert len(out) == 30
        assert {r["page"] for r in out} == {0, 1, 2}
        # page 1 failed once then succeeded => at least 4 requests, and
        # every request carried a pool User-Agent
        assert len(seen_uas) >= 4
        from datapipeline_scraping_spark.sources.scrape import (
            DEFAULT_USER_AGENTS,
        )

        assert all(ua in DEFAULT_USER_AGENTS for ua in seen_uas)
    finally:
        srv.shutdown()


def test_multimodal_blob_roundtrip(spark):
    docs = spark.createDataFrame([(1, "hello world")], "doc_id long, text string")
    blobs = attach_blob(docs, "doc_id", "text")
    meta = extract_media_meta(blobs, "doc_id").collect()[0]
    assert meta["n_bytes"] == 11
    assert meta["width"] == 11 % 640 and meta["height"] == (11 * 7) % 480


def test_minhash_finds_planted_neardups(spark):
    base = "a b c d e f g h i j k l m n o p q r s t"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " extra"),  # near-dup of 1
            (3, "completely different tokens x y z w v u q9 q8 q7 q6"),
        ],
        "doc_id long, text string",
    )
    pairs = {(r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(docs, "doc_id", "text").collect()}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_lsh_candidate_pairs_leaves_no_cache_entry(spark):
    """The band self-join shares its input through exchange reuse, not
    a persisted band table: repeated calls leave the cache empty."""
    spark.catalog.clearCache()
    base = "a b c d e f g h i j k l m n o p q r s t"
    docs = spark.createDataFrame(
        [(i, f"{base} x{i % 7}") for i in range(40)], "doc_id long, text string"
    )
    for _ in range(3):
        pairs = minhash_lsh_pairs(docs, "doc_id", "text")
        assert pairs.collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan.split("== Initial Plan ==")[0], plan


def test_spread_small_input_is_scale_adaptive(spark, tmp_path):
    """r16: the explode/md5 operators repartition a too-small input so
    one file does not serialize the hashing, but SKIP the shuffle when
    the optimizer's size estimate says the scan already parallelizes —
    at 100 TB the old constant-on repartition was a full corpus
    shuffle. Unknown-size sources (non-file: the estimate is the
    Long.MaxValue sentinel) keep the safe repartition. Results are
    partitioning-independent; this pins the PLAN."""
    from datapipeline_scraping_spark.operators.dedup import (
        shingle_relation,
        spread_small_input,
    )

    local = spark.createDataFrame(
        [(i, "w x y z " * 5) for i in range(100)], "doc_id long, text string"
    )
    path = str(tmp_path / "docs")
    local.write.parquet(path)
    docs = spark.read.parquet(path)

    def has_shuffle(df):
        return "Exchange hashpartitioning(doc_id" in (
            df._jdf.queryExecution().executedPlan().toString()
        )

    old_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        # small file input (est << cores x maxPartitionBytes): shuffle
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        assert has_shuffle(spread_small_input(docs, "doc_id"))
        # unknown-size source (ExistingRDD sentinel): keep the shuffle
        assert has_shuffle(spread_small_input(local, "doc_id"))
        # 'large' input (shrink the per-task budget so est >= cores x
        # maxPartitionBytes): the shuffle disappears, rows unchanged
        spark.conf.set("spark.sql.files.maxPartitionBytes", "16")
        sh = shingle_relation(docs, "doc_id", "text", k=3)
        assert not has_shuffle(sh)
        # "w x y z " * 5 splits to 21 tokens (trailing '') -> 19 shingles
        assert sh.count() == 100 * 19
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old_mpb)


def test_merge_into_routes_all_four_ways(spark):
    from datapipeline_scraping_spark.operators.merge import merge_into

    target = spark.createDataFrame(
        [(1, "keep", 10.0), (2, "update", 20.0), (3, "delete", 30.0)],
        "pk long, tag string, val double",
    )
    source = spark.createDataFrame(
        [(2, "updated", 99.0), (3, "gone", 0.0), (4, "inserted", 40.0)],
        "pk long, tag string, val double",
    )
    out = {
        r["pk"]: (r["tag"], r["val"])
        for r in merge_into(
            target,
            source,
            "pk",
            matched_delete=F.col("s.tag") == "gone",
            matched_update=F.col("s.tag") == "updated",
        ).collect()
    }
    assert out == {
        1: ("keep", 10.0),       # target-only: kept
        2: ("updated", 99.0),    # matched + update cond: source wins
        4: ("inserted", 40.0),   # source-only: inserted
    }                            # 3: matched + delete cond: dropped


def test_merge_into_null_condition_does_not_fire(spark):
    """ANSI/Delta: WHEN MATCHED AND cond THEN DELETE fires only when
    cond = TRUE; a NULL cond must fall through to update/keep (the
    round-2 ADVICE finding: (2,'nullcond') vs source tag NULL used to
    vanish under three-valued logic)."""
    from datapipeline_scraping_spark.operators.merge import merge_into

    target = spark.createDataFrame(
        [(1, "keep"), (2, "nullcond")], "pk long, tag string"
    )
    source = spark.createDataFrame([(2, None)], "pk long, tag string")
    out = {
        r["pk"]: r["tag"]
        for r in merge_into(
            target,
            source,
            "pk",
            matched_delete=F.col("s.tag") == "gone",  # NULL == 'gone' → NULL
            matched_update=F.col("s.tag").isNotNull(),
        ).collect()
    }
    # delete must NOT fire; update cond is FALSE → target row kept as-is
    assert out == {1: "keep", 2: "nullcond"}


def test_merge_into_null_pk_target_row_is_kept(spark):
    """A target row whose own pk is NULL is target-only, not a source
    insert: presence markers, not pk nullness, drive the routing."""
    from datapipeline_scraping_spark.operators.merge import merge_into

    target = spark.createDataFrame(
        [(None, "orphan"), (1, "one")], "pk long, tag string"
    )
    source = spark.createDataFrame([(2, "two")], "pk long, tag string")
    rows = sorted(
        merge_into(target, source, "pk").collect(),
        key=lambda r: (r["pk"] is None, r["pk"]),
    )
    got = [(r["pk"], r["tag"]) for r in rows]
    assert got == [(1, "one"), (2, "two"), (None, "orphan")]


def test_merge_into_duplicate_source_pk_guard(spark):
    """check_unique_source=True fails the job on a duplicate source pk
    (ANSI MERGE's multiple-matched-rows error, Delta's default)."""
    import pytest as _pytest
    from datapipeline_scraping_spark.operators.merge import merge_into

    target = spark.createDataFrame([(1, "a")], "pk long, v string")
    dup_source = spark.createDataFrame(
        [(1, "x"), (1, "y")], "pk long, v string"
    )
    with _pytest.raises(Exception, match="duplicate source pk"):
        merge_into(target, dup_source, "pk", check_unique_source=True).collect()
    # unique source passes through the guard untouched
    ok = merge_into(
        target,
        spark.createDataFrame([(1, "x"), (2, "z")], "pk long, v string"),
        "pk",
        check_unique_source=True,
    ).collect()
    assert {r["pk"]: r["v"] for r in ok} == {1: "x", 2: "z"}


def test_merge_into_composite_key(spark):
    """pk may be a list: AND-ed equality join; a source row with any
    NULL key column matches nothing (ANSI equality) and inserts."""
    from datapipeline_scraping_spark.operators.merge import merge_into

    target = spark.createDataFrame(
        [(1, "x", "t1"), (1, "y", "t2"), (2, "x", "t3")],
        "k1 long, k2 string, v string",
    )
    source = spark.createDataFrame(
        [(1, "x", "S1"), (2, "y", "S2"), (None, "x", "S3")],
        "k1 long, k2 string, v string",
    )
    got = {
        (r["k1"], r["k2"]): r["v"]
        for r in merge_into(target, source, ["k1", "k2"]).collect()
    }
    assert got == {
        (1, "x"): "S1",    # matched on BOTH keys: updated
        (1, "y"): "t2",    # k2 differs: kept
        (2, "x"): "t3",    # k2 differs: kept
        (2, "y"): "S2",    # source-only: inserted
        (None, "x"): "S3", # NULL key matches nothing: inserted
    }
    # composite duplicate guard: same (k1,k2) twice raises; a NULL key
    # repeated is NOT a duplicate (matches no target row)
    import pytest as _pytest

    dup = spark.createDataFrame(
        [(1, "x", "a"), (1, "x", "b")], "k1 long, k2 string, v string"
    )
    with _pytest.raises(Exception, match="duplicate source pk"):
        merge_into(
            target, dup, ["k1", "k2"], check_unique_source=True
        ).collect()
    nulls = spark.createDataFrame(
        [(None, "x", "a"), (None, "x", "b")],
        "k1 long, k2 string, v string",
    )
    out = merge_into(
        target, nulls, ["k1", "k2"], check_unique_source=True
    ).collect()
    assert len(out) == 5  # 3 target rows kept + 2 NULL-key inserts


def test_merge_into_explicit_set_assignments(spark):
    """matched_set={col: expr}: updated rows take the assignment for
    listed columns and keep target values elsewhere; inserts still
    take the full source row; key assignment raises."""
    import pytest as _pytest
    from datapipeline_scraping_spark.operators.merge import merge_into

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "pk long, tag string, val double"
    )
    source = spark.createDataFrame(
        [(2, "B", 99.0), (3, "C", 30.0)], "pk long, tag string, val double"
    )
    got = {
        r["pk"]: (r["tag"], r["val"])
        for r in merge_into(
            target,
            source,
            "pk",
            matched_set={"val": F.col("t.val") + F.col("s.val")},
        ).collect()
    }
    assert got == {
        1: ("a", 10.0),   # target-only
        2: ("b", 119.0),  # updated: val = t.val + s.val, tag KEPT
        3: ("C", 30.0),   # inserted: full source row
    }
    with _pytest.raises(ValueError, match="merge-key column"):
        merge_into(target, source, "pk", matched_set={"pk": F.lit(0)})
    with _pytest.raises(ValueError, match="unknown column"):
        merge_into(target, source, "pk", matched_set={"nope": F.lit(0)})


def test_merge_into_conditional_not_matched_insert(spark):
    """not_matched_insert: WHEN NOT MATCHED AND cond THEN INSERT — a
    source-only row failing (or NULLing) the condition emits nothing."""
    from datapipeline_scraping_spark.operators.merge import merge_into

    target = spark.createDataFrame([(1, "a")], "pk long, v string")
    source = spark.createDataFrame(
        [(1, "A"), (2, "B"), (3, None)], "pk long, v string"
    )
    got = {
        r["pk"]: r["v"]
        for r in merge_into(
            target,
            source,
            "pk",
            # NULL v → condition NULL → no insert (ANSI)
            not_matched_insert=F.col("s.v") == "B",
        ).collect()
    }
    assert got == {1: "A", 2: "B"}  # 3 dropped: cond NULL


def test_merge_into_defaults_are_plain_upsert(spark):
    from datapipeline_scraping_spark.operators.merge import merge_into

    target = spark.createDataFrame([(1, "a"), (2, "b")], "pk long, v string")
    source = spark.createDataFrame([(2, "B"), (3, "C")], "pk long, v string")
    got = {r["pk"]: r["v"] for r in merge_into(target, source, "pk").collect()}
    want = {
        r["pk"]: r["v"] for r in merge_upsert(target, source, "pk").collect()
    }
    assert got == want == {1: "a", 2: "B", 3: "C"}


def test_salted_join_rejects_outer(spark):
    import pytest as _pytest

    from datapipeline_scraping_spark.operators.skew import salted_join

    left = spark.createDataFrame([(1, 1)], "k long, seq long")
    right = spark.createDataFrame([(1, "x")], "k long, v string")
    with _pytest.raises(ValueError, match="inner"):
        salted_join(left, right, "k", salt_from="seq", how="full")


def test_srp_bucket_matches_pure_python(spark):
    """Default 8 planes x 64 dims over float32 vectors read as double,
    the operator's production shape; an INT bucket id."""
    import math
    import random

    from datapipeline_scraping_spark.operators.similarity import (
        SRP_SCALE,
        as_double,
        srp_bucket,
        srp_signs,
    )

    rng = random.Random(11)
    vecs = [(1, [0.0] * 64)]  # zero projections tie -> every bit set
    vecs += [
        (i, [rng.choice([-1, 1]) * rng.random() * 4 for _ in range(64)])
        for i in range(2, 202)
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    out = df.select("vec_id", as_double("embedding").alias("v")).select(
        "vec_id", srp_bucket("v").alias("b")
    )
    assert dict(out.dtypes)["b"] == "int"
    got = {r["vec_id"]: r["b"] for r in out.collect()}
    stored = {
        r["vec_id"]: r["embedding"] for r in df.collect()
    }  # the float32-rounded values the operator sees
    assert len(set(got.values())) > 50
    for vid, v in stored.items():
        b = 0
        for p in range(8):
            proj = sum(
                s * math.floor(x * SRP_SCALE)
                for s, x in zip(srp_signs(p, 64), v)
            )
            if proj >= 0:
                b += 1 << p
        assert got[vid] == b, f"vec {vid}: spark {got[vid]} != python {b}"


def test_simhash_matches_pure_python(spark):
    """32-bit SimHash per document against a pure-Python reference:
    repeated tokens vote once per occurrence, an empty text is one
    empty token, a NULL text produces no row."""
    import hashlib
    import random

    from datapipeline_scraping_spark.operators.dedup import simhash

    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(40)]
    docs = [(i, " ".join(rng.choices(vocab, k=rng.randint(1, 30))))
            for i in range(1, 48)]
    docs += [(48, "a a a a b"), (49, ""), (50, None), (51, "x  y ")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = simhash(df, "doc_id", "text")
    assert out.dtypes == [("doc_id", "bigint"), ("simhash", "bigint")]
    got = {r["doc_id"]: r["simhash"] for r in out.collect()}

    def ref(text):
        votes = [0] * 32
        for tok in text.split(" "):
            h = int(hashlib.md5(tok.encode()).hexdigest()[:8], 16)
            for j in range(32):
                votes[j] += 1 if (h >> j) & 1 else -1
        return sum(1 << j for j in range(32) if votes[j] > 0)

    assert got == {i: ref(t) for i, t in docs if t is not None}


def test_simhash_matches_pure_python_on_invalid_utf8(spark):
    """SimHash of texts that are not valid UTF-8: Spark's ``split``
    decodes the text first, so each malformed sequence votes as the
    U+FFFD it decodes to, not as its raw bytes."""
    from datapipeline_scraping_spark.operators.dedup import simhash

    hexes = ["61FF20620A", "FF", "FE20FF", "E28220C3", "6120F09F9820C0AF"]
    df = spark.createDataFrame(
        list(enumerate(hexes)), "doc_id long, h string"
    ).select("doc_id", F.unhex("h").cast("string").alias("text"))
    got = {r["doc_id"]: r["simhash"] for r in simhash(df, "doc_id", "text").collect()}

    def ref(raw):
        votes = [0] * 32
        for tok in raw.decode("utf-8", "replace").split(" "):
            h = int(hashlib.md5(tok.encode()).hexdigest()[:8], 16)
            for j in range(32):
                votes[j] += 1 if (h >> j) & 1 else -1
        return sum(1 << j for j in range(32) if votes[j] > 0)

    assert got == {i: ref(bytes.fromhex(h)) for i, h in enumerate(hexes)}


# Pure-Python twins of the MinHash-LSH and Jaccard operators. A text is
# raw bytes or None; Spark's split(text, ' ') decodes it first, and on
# the malformed sequences used here the JVM replaces exactly as
# Python's "replace" does.
def _ref_shingles(raw, k):
    toks = (raw or b"").decode("utf-8", "replace").encode().split(b" ")
    return {b" ".join(toks[i : i + k]) for i in range(max(1, len(toks) - k + 1))}


def _ref_hx(shingle):
    return int(hashlib.md5(shingle).hexdigest()[:8], 16)


def _ref_bands(raw, k, n_hashes, n_bands):
    from datapipeline_scraping_spark.operators.dedup import (
        MINHASH_A,
        MINHASH_B,
        MINHASH_P,
    )

    hx = [_ref_hx(s) for s in _ref_shingles(raw, k)]
    mh = [min((MINHASH_A[s] * h + MINHASH_B[s]) % MINHASH_P for h in hx)
          for s in range(n_hashes)]
    r = n_hashes // n_bands
    return {
        (b, hashlib.md5("|".join(map(str, mh[b * r : (b + 1) * r])).encode()).hexdigest())
        for b in range(n_bands)
    }


def _dedup_docs(spark, id_type):
    """Random texts with planted near-duplicates, plus the edge cases:
    NULL and '' (both one '' shingle), double and trailing spaces,
    fewer than k tokens, non-ASCII, and invalid UTF-8 (two byte strings
    that decode alike, so they collide)."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(25)] + ["é", "日本", "ß"]
    texts = []
    for _ in range(40):
        toks = rng.choices(vocab, k=rng.randint(4, 14))
        texts.append(" ".join(toks).encode())
        if rng.random() < 0.4:
            toks[rng.randrange(len(toks))] = "zz"
            texts.append(" ".join(toks).encode())
    texts += [None, b"", None, b"a  b  c", b"a b c d ", b" a b c", b"a b",
              b"x", b"x", "über 日本 straße".encode(), "über 日本 strasse".encode(),
              bytes.fromhex("61FF20620A"), bytes.fromhex("61FE20620A"),
              bytes.fromhex("61FF20620A20632064")]
    ids = [i + 1 if id_type == "long" else f"d{i + 1:03d}" for i in range(len(texts))]
    df = spark.createDataFrame(
        [(i, None if t is None else t.hex()) for i, t in zip(ids, texts)],
        f"doc_id {id_type}, h string",
    ).select("doc_id", F.unhex("h").cast("string").alias("text"))
    return df, dict(zip(ids, texts))


def test_lsh_bands_match_pure_python(spark):
    """MinHash-LSH candidate pairs against a pure-Python twin: docs
    sharing any (band, bucket) of the reference bands, for long and
    string ids and several (k, n_hashes, n_bands)."""
    from datapipeline_scraping_spark.operators.dedup import incremental_lsh_pairs

    # the reference's hash of the one shingle of unhex('61FF20620A')
    assert _ref_hx("a\ufffd b\n".encode()) == 604058874
    for id_type, k, n_hashes, n_bands in (
        ("long", 3, 8, 4), ("string", 3, 6, 3), ("long", 2, 8, 2), ("string", 3, 7, 3),
    ):
        df, texts = _dedup_docs(spark, id_type)
        bands = {i: _ref_bands(t, k, n_hashes, n_bands) for i, t in texts.items()}
        exp = {(a, b) for a in texts for b in texts if a < b and bands[a] & bands[b]}
        got = minhash_lsh_pairs(df, "doc_id", "text", k=k, n_hashes=n_hashes, n_bands=n_bands)
        assert dict(got.dtypes) == {"id_a": df.dtypes[0][1], "id_b": df.dtypes[0][1]}
        got = {(r["id_a"], r["id_b"]) for r in got.collect()}
        assert got == exp, (id_type, k, n_hashes, n_bands)
        assert len(exp) > 5
    # the probe of an incoming batch against a corpus: the same bands
    df, texts = _dedup_docs(spark, "long")
    old, new = df.filter("doc_id % 2 = 0"), df.filter("doc_id % 2 = 1")
    bands = {i: _ref_bands(t, 3, 8, 4) for i, t in texts.items()}
    exp = {(a, b) for a in texts for b in texts if a % 2 == 0 and b % 2 == 1
           and bands[a] & bands[b]}
    got = incremental_lsh_pairs(old, new, "doc_id", "text").collect()
    assert {(r["id_corpus"], r["id_new"]) for r in got} == exp


def test_jaccard_verify_matches_pure_python(spark):
    """Exact shingle-set Jaccard of every pair against a pure-Python
    twin: int/int -> double, equal to the last bit; a pair sharing no
    shingle gives no row, and a pair naming an absent id is dropped."""
    from datapipeline_scraping_spark.operators.dedup import jaccard_verify

    for id_type, k, threshold in (("long", 3, 0.0), ("string", 2, 0.5), ("long", 1, 0.3)):
        df, texts = _dedup_docs(spark, id_type)
        ids = sorted(texts)
        pairs = [(a, b) for a in ids for b in ids if a < b]
        absent = 999 if id_type == "long" else "d999"
        pairs_df = spark.createDataFrame(
            pairs + [(ids[0], absent)], f"id_a {id_type}, id_b {id_type}"
        )
        exp = {}
        for a, b in pairs:
            sa, sb = _ref_shingles(texts[a], k), _ref_shingles(texts[b], k)
            j = len(sa & sb) / len(sa | sb)
            if sa & sb and j >= threshold:
                exp[(a, b)] = j
        out = jaccard_verify(df, pairs_df, "doc_id", "text", k=k, threshold=threshold)
        assert out.dtypes == [("id_a", df.dtypes[0][1]), ("id_b", df.dtypes[0][1]),
                              ("jaccard", "double")]
        got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}
        assert got == exp, (id_type, k, threshold)
        assert len(exp) > 10


def test_connected_components_multi_cluster(spark):
    """Two components with a chain (diameter > 1) and an isolated pair:
    labels converge to each component's min id."""
    from datapipeline_scraping_spark.operators.graph import (
        connected_components,
        dedup_clusters,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    cc = {r["node"]: r["cluster_id"] for r in connected_components(edges).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    ann = {
        r["node"]: (r["cluster_size"], r["is_keeper"])
        for r in dedup_clusters(edges).collect()
    }
    assert ann[1] == (4, True) and ann[4] == (4, False)
    assert ann[10] == (2, True) and ann[11] == (2, False)


def test_connected_components_raises_on_no_convergence(spark):
    import pytest as _pytest

    from datapipeline_scraping_spark.operators.graph import connected_components

    # a path graph of length 6 cannot converge in 1 round
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "id_a long, id_b long"
    )
    with _pytest.raises(RuntimeError, match="not converged"):
        connected_components(edges, max_iter=1)


def test_stratified_sample_deterministic_and_rate_shaped(spark):
    from datapipeline_scraping_spark.operators.sample import stratified_sample

    df = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "zh") for i in range(2000)],
        "id long, lang string",
    )
    a = stratified_sample(df, "lang", "id", {"en": 0.1, "zh": 0.9}).collect()
    b = stratified_sample(df, "lang", "id", {"en": 0.1, "zh": 0.9}).collect()
    assert sorted(r["id"] for r in a) == sorted(r["id"] for r in b)
    by_lang = {"en": 0, "zh": 0}
    for r in a:
        by_lang[r["lang"]] += 1
    assert 50 <= by_lang["en"] <= 150      # ~100 of 1000
    assert 800 <= by_lang["zh"] <= 1000    # ~900 of 1000


def test_html_detail_parser_handles_tag_soup(spark):
    """Lenient-parse semantics the regex oracle can't cover: entity
    refs decoded, nested inline tags inside h1, attribute values
    containing '>', only the FIRST h1 counts."""
    from datapipeline_scraping_spark.operators.html import parse_html_details

    soup = (
        "<HTML><h1 id=x>A &amp; <i>B</i></h1>"
        '<a title="x > y" href="/one">l1'
        "<h1>second title ignored</h1>"
        "<a href='/two'><b>l2</a>trailing text"
    )
    df = spark.createDataFrame([(1, soup)], "doc_id long, html string")
    row = parse_html_details(df, "html", "doc_id").collect()[0]
    assert row["title"] == "A & B"
    assert row["links"] == ["/one", "/two"]
    assert "trailing text" in row["full_text"]


def test_sketch_estimates_within_error_bounds(spark):
    """q58 carries its sketch-error verdicts as oracled BOOLEAN columns
    (r13 — the q128 bound-verdict pattern extended to
    approx_percentile). This test pins the mechanism from the other
    side: every verdict must be True on the smoke corpus AND the exact
    columns must agree with an independently computed exact aggregate,
    so a window so loose it could never fail would still have to get
    the exact twins right."""
    from conftest import SF_SMOKE

    from datapipeline_scraping_spark.queries import REGISTRY
    from datapipeline_scraping_spark.sources.tables import load_table

    rows = {
        r["event_type"]: r
        for r in REGISTRY["q58_approx_sketches"].fn(spark, SF_SMOKE).collect()
    }
    ev = load_table(spark, SF_SMOKE, "events")
    exact = {
        r["event_type"]: r
        for r in ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("users"),
            F.expr("percentile(value, array(0.5, 0.99))").alias("p"),
            F.count("*").alias("n"),
        )
        .collect()
    }
    assert set(rows) == set(exact)
    for et, a in rows.items():
        e = exact[et]
        assert a["n_events"] == e["n"]  # the exact columns must BE exact
        assert a["exact_users"] == e["users"]
        assert a["exact_p50"] == e["p"][0]
        assert a["exact_p99"] == e["p"][1]
        for verdict in (
            "hll_within_bound",
            "p50_within_window",
            "p99_within_window",
        ):
            assert a[verdict] is True, f"{et}: {verdict} failed"


def test_connected_components_reliable_checkpoint_end_to_end(spark, tmp_path):
    """VERDICT r6 item 8: the ``reliable_checkpoint=True`` path run
    end-to-end — correct result, checkpoint files actually written to
    the configured dir (surviving-executor-loss materialization), and
    the documented cleanup recipe exercised: with
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` the
    ContextCleaner may reclaim dropped rounds' files, and a TTL'd
    scratch dir (this test's tmp_path) is always a valid fallback —
    removing it after the job leaves nothing behind."""
    import os
    import shutil

    from datapipeline_scraping_spark.operators.graph import (
        connected_components,
    )

    sc = spark.sparkContext
    ckdir = str(tmp_path / "graph_ck")
    prev = sc._jsc.sc().getCheckpointDir()
    sc.setCheckpointDir(ckdir)
    try:
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
            "id_a long, id_b long",
        )
        cc = {
            r["node"]: r["cluster_id"]
            for r in connected_components(
                edges, reliable_checkpoint=True
            ).collect()
        }
        assert cc == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
                      20: 20, 21: 20, 22: 20}
        # reliable mode wrote real checkpoint files under the dir
        files = [
            os.path.join(r, f)
            for r, _d, fs in os.walk(ckdir)
            for f in fs
        ]
        assert files, "reliable checkpoint produced no files"
        # cleanup recipe: the TTL'd/scratch-dir fallback — reclaim the
        # whole dir once the job's results are consumed
        shutil.rmtree(ckdir)
        assert not os.path.exists(ckdir)
    finally:
        # restore: scala Option -> None means unset; tests share the
        # session, so don't leak the tmp checkpoint dir
        if prev.isDefined():
            sc.setCheckpointDir(prev.get())
        else:
            getattr(sc._jsc.sc(), "checkpointDir_$eq")(
                sc._jvm.scala.Option.apply(None)
            )


def test_first_wins_agg_equals_window_strategy(spark):
    """The min_by-aggregate form and the ranking-window form must pick
    identical rows whenever the order columns are non-null and total
    within each key (the operator's documented contract)."""
    from datapipeline_scraping_spark.operators.dedup import first_wins

    rows = [
        (1, 2, 10, "b"), (1, 1, 99, "a"), (1, 1, 100, "z"),
        (2, 5, 7, "x"), (3, 0, 0, "only"),
    ]
    df = spark.createDataFrame(rows, "k long, o1 long, o2 long, v string")
    agg = sorted(map(tuple, first_wins(df, ["k"], ["o1", "o2"]).collect()))
    win = sorted(
        map(
            tuple,
            first_wins(df, ["k"], ["o1", "o2"], strategy="window").collect(),
        )
    )
    assert agg == win
    assert [r[0] for r in agg] == [1, 2, 3]
    # the (1,1,99) row beats (1,1,100) and (1,2,10) on the (o1,o2) order
    assert agg[0] == (1, 1, 99, "a")


@pytest.mark.slow  # r17 tiering: measured 11s; full (evidence) tier only
def test_first_wins_agg_equals_window_strategy_with_nulls(spark):
    """NULL order values rank FIRST under struct min_by exactly as the
    window's NULLS FIRST — measured parity pinned here (ADVICE r7
    predicted a divergence; none exists for totally-ordered inputs,
    single- or multi-column ranks)."""
    from datapipeline_scraping_spark.operators.dedup import first_wins

    rows = [
        (1, None, 3, "null-first"), (1, 1, 1, "b"), (1, 1, 2, "c"),
        (2, 0, None, "inner-null"), (2, 0, 5, "y"), (3, None, None, "all"),
        (4, 7, 7, "solo"),
    ]
    df = spark.createDataFrame(rows, "k long, o1 long, o2 long, v string")
    for order in (["o1", "o2"], ["o1"], ["o2", "o1"]):
        # keep only rows where `order` is total per key for this order
        agg = sorted(map(tuple, first_wins(df, ["k"], order).collect()))
        win = sorted(
            map(
                tuple,
                first_wins(df, ["k"], order, strategy="window").collect(),
            )
        )
        if order != ["o1"]:  # o1 alone ties within k=1 (1,1) — skip
            assert agg == win, order
    # the NULL o1 beats o1=1 in both forms
    agg = dict(
        (r[0], r[3])
        for r in first_wins(df, ["k"], ["o1", "o2"]).collect()
    )
    assert agg[1] == "null-first" and agg[2] == "inner-null" and agg[3] == "all"


def test_fold_queue_policies_and_accounting():
    """U4/F5 core fold: every task is accounted exactly once (done or
    dropped), attempts are bounded, the ramp only ever jumps to
    min(max_conc, 10), and the requeue mode matches the integer-exact
    10% gate per round."""
    from datapipeline_scraping_spark.operators.scheduling import (
        MAX_ATTEMPTS, fold_queue,
    )

    tasks = [(t, 60 if t % 7 == 0 else 25 if t % 3 == 0 else 0)
             for t in range(1, 101)]
    rounds, per_task = fold_queue("srcX", tasks, conc0=2, max_conc=12)
    assert sorted(t for _, t, *_ in per_task) == list(range(1, 101))
    assert all(1 <= att <= MAX_ATTEMPTS for _, _, att, _, _ in per_task)
    assert {s for *_, s, _ in per_task} <= {"done", "dropped"}
    concs = [c for _, _, c, *_ in rounds]
    assert concs[0] == 2 and set(concs) <= {2, 10}  # jump, not a step
    for _, _, _, k, nf, mode in rounds:
        assert mode == ("fifo" if nf * 10 <= k else "lifo")
    # ramp is monotone non-decreasing FOR conc0 <= 10: the only rule
    # that changes concurrency jumps to min(max_conc, 10), which can
    # only raise it from at-or-below 10 (the quirk below is the other side)
    assert all(a <= b for a, b in zip(concs, concs[1:]))


def test_fold_queue_ramp_quirk_above_ten_is_faithful():
    # faithful reference quirk (src/scrapers/scraper.py:117-121): a
    # clean round jumps to min(max_conc, 10) even when that LOWERS
    # concurrency — callers starting in (10, max_conc) get the
    # reference's literal behavior (documented in fold_queue)
    from datapipeline_scraping_spark.operators.scheduling import fold_queue

    tasks = [(t, 0) for t in range(1, 40)]  # all succeed
    rounds, _ = fold_queue("srcQ", tasks, conc0=11, max_conc=12)
    concs = [c for _, _, c, *_ in rounds]
    assert concs[0] == 11 and concs[1] == 10


def test_fold_queue_order_policy_changes_trace():
    """The requeue ORDER is observable: flipping the policy (always-
    FIFO vs the reference's conditional LIFO) must change completion
    rounds for at least one task when a high-error round occurs —
    i.e. q145 really pins U4, not just retry counts."""
    from datapipeline_scraping_spark.operators import scheduling as S

    tasks = [(t, 80 if t % 2 == 0 else 0) for t in range(1, 41)]
    _, base = S.fold_queue("srcY", tasks, conc0=2, max_conc=12)
    orig = S.fold_queue.__code__  # guard: monkeypatch below stays local

    def fifo_only(source, tasks, *, conc0, max_conc):
        from collections import deque
        queue = deque((t, 0, fp) for t, fp in tasks)
        conc, rnd = conc0, 0
        per_task = []
        while queue:
            rnd += 1
            k = min(conc, len(queue))
            batch = [queue.popleft() for _ in range(k)]
            fails = [S._fails(source, t, att + 1, fp)
                     for (t, att, fp) in batch]
            nf = sum(fails)
            for (t, att, fp), f in zip(batch, fails):
                if not f:
                    per_task.append((source, t, att + 1, "done", rnd))
                elif att + 1 >= S.MAX_ATTEMPTS:
                    per_task.append((source, t, att + 1, "dropped", rnd))
            queue.extend(
                (t, att + 1, fp)
                for (t, att, fp), f in zip(batch, fails)
                if f and att + 1 < S.MAX_ATTEMPTS
            )  # ALWAYS fifo — the policy under test removed
            if nf * 20 < k and conc < max_conc:
                conc = min(max_conc, 10)
        return per_task

    alt = fifo_only("srcY", tasks, conc0=2, max_conc=12)
    assert S.fold_queue.__code__ is orig
    assert sorted(r[1] for r in alt) == sorted(r[1] for r in base)
    # completion rounds must differ somewhere if any LIFO round fired
    base_by_task = {r[1]: r[4] for r in base}
    alt_by_task = {r[1]: r[4] for r in alt}
    assert base_by_task != alt_by_task, (
        "no LIFO round fired — raise failure rates so the policy is "
        "actually exercised"
    )


def test_fold_queue_edges():
    """Queue-fold edge cases: empty task list (no rounds), concurrency
    larger than the queue (one round), zero failure rates (pure FIFO
    drain in ceil(n/conc) rounds after the ramp kicks in)."""
    from datapipeline_scraping_spark.operators.scheduling import fold_queue

    assert fold_queue("s", [], conc0=2, max_conc=12) == ([], [])

    rounds, tasks = fold_queue("s", [(1, 0), (2, 0)], conc0=10, max_conc=12)
    assert len(rounds) == 1 and len(tasks) == 2
    assert all(s == "done" and att == 1 for _, _, att, s, _ in tasks)

    n = 25
    rounds, tasks = fold_queue(
        "s", [(t, 0) for t in range(n)], conc0=2, max_conc=12
    )
    # round 1 at conc 2, ramp to 10 after it (0% errors), then 10/round
    assert [r[3] for r in rounds] == [2, 10, 10, 3]
    assert len(tasks) == n and all(s == "done" for *_, s, _ in tasks)
    # FIFO drain: completion order == task order
    assert [t for _, t, *_ in tasks] == list(range(n))


def test_tfidf_df_subtree_reuses_tf_exchange(spark):
    """r17 (guide §2.4/§2.5): tfidf_topk computes document frequency
    from the (doc,term)-unique TF table via a map-side-combinable
    groupBy — not a term-partitioned window (un-splittable hot-term
    skew) and not a second explode. The tautological tf > 0 guard
    keeps the DF subtree canonically identical to the TF side, so the
    adaptive plan must materialize the (doc,term) exchange ONCE and
    read it back via ReusedExchange."""
    import re

    from datapipeline_scraping_spark.operators.text import tfidf_topk

    docs = spark.createDataFrame(
        [(1, "a b a c"), (2, "b b d"), (3, "a d e f")],
        "doc_id long, text string",
    )
    out = tfidf_topk(docs, "doc_id", "text", top=2)
    rows = {(r["doc_id"], r["term"]): (r["tf"], r["df"]) for r in out.collect()}
    # df counts distinct docs containing the term (a: docs 1,3 -> 2)
    assert rows[(1, "a")] == (2, 2)
    assert rows[(2, "b")][1] == 2  # b in docs 1 and 2
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "ReusedExchange" in final, final
    # exactly one explode executes (the reused stage covers the other)
    assert len(re.findall(r"\bGenerate\b", final)) == 1, final


def test_delta_split_ignores_state_multiplicity(spark):
    """Each (key, hash) of the state repeated 3 times splits incoming
    into the same changed and bypass multisets as the deduplicated
    state: semi/anti joins emit each probe row at most once."""
    incoming = spark.createDataFrame(
        [(f"k{i}", f"h{i % 7}") for i in range(60)] + [("k1", "h1"), (None, "h0")],
        "k string, row_hash string",
    )
    uniq = [(f"k{i}", f"h{(i + (i % 3 == 0)) % 7}") for i in range(0, 50)] + [(None, "h0")]
    state = spark.createDataFrame(uniq, "k string, row_hash string")
    tripled = spark.createDataFrame(uniq * 3, "k string, row_hash string")

    def bag(df):
        return sorted((tuple(r) for r in df.collect()), key=repr)

    want = [bag(side) for side in delta_split(incoming, state, "k")]
    got = [bag(side) for side in delta_split(incoming, tripled, "k")]
    assert got == want
    assert want[0] and want[1]
