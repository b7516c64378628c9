"""Property-based tests (hypothesis) for the engine's determinism
invariants — the contracts every oracle comparison leans on:

- the canonical checksum is a pure function of the configured field
  subset (field order, extra fields, and row order never matter);
- first-wins dedup is a deterministic function of (keys, order), not
  of physical row order;
- the salted join equals the plain join for any salt fan-out.
"""

from __future__ import annotations

import datetime
import random

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from datapipeline_scraping_spark.functions.checksum import row_checksum
from datapipeline_scraping_spark.operators.dedup import first_wins
from datapipeline_scraping_spark.operators.skew import salted_join

_SETTINGS = dict(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_text = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd"), max_codepoint=0x7F),
    max_size=12,
)


@given(rows=st.lists(st.tuples(_text, _text, _text), min_size=1, max_size=12))
@settings(**_SETTINGS)
@pytest.mark.slow  # r17 tiering: measured 13s; full (evidence) tier only
def test_checksum_ignores_row_and_field_order(spark, rows):
    df = spark.createDataFrame(rows, "a string, b string, c string")
    h1 = df.select(row_checksum(["a", "b"]).alias("h")).collect()
    # field list given in any order, extra column never consulted
    h2 = df.select(row_checksum(["b", "a"]).alias("h")).collect()
    assert sorted(r["h"] for r in h1) == sorted(r["h"] for r in h2)


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 100), _text),
        min_size=1,
        max_size=20,
    ),
    seed=st.integers(0, 2**16),
)
@settings(**_SETTINGS)
@pytest.mark.slow  # r17 tiering: measured 14s; full (evidence) tier only
def test_first_wins_is_physical_order_independent(spark, rows, seed):
    shuffled = list(rows)
    random.Random(seed).shuffle(shuffled)
    a = spark.createDataFrame(rows, "k long, o long, v string").repartition(4)
    b = spark.createDataFrame(shuffled, "k long, o long, v string").repartition(3)
    ra = sorted(map(tuple, first_wins(a, ["k"], ["o", "v"]).collect()))
    rb = sorted(map(tuple, first_wins(b, ["k"], ["o", "v"]).collect()))
    assert ra == rb


@given(
    left=st.lists(
        st.tuples(st.integers(0, 4), st.integers(0, 1000)), min_size=1, max_size=20
    ),
    right=st.lists(st.tuples(st.integers(0, 4), _text), min_size=1, max_size=6),
    n_salt=st.integers(1, 5),
)
@settings(**_SETTINGS)
@pytest.mark.slow  # r17 tiering: measured 24s; full (evidence) tier only
def test_salted_join_equals_plain_join(spark, left, right, n_salt):
    # unique right keys (build side of an upsert-style dim join)
    right = list({k: v for k, v in right}.items())
    l = spark.createDataFrame(left, "k long, uid long")
    r = spark.createDataFrame(right, "k long, payload string")
    plain = sorted(map(tuple, l.join(r, on="k").collect()))
    salted = sorted(
        map(tuple, salted_join(l, r, "k", salt_from="uid", n_salt=n_salt).collect())
    )
    assert plain == salted


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 4), st.integers(-50, 50)),
        min_size=1,
        max_size=24,
        unique_by=lambda t: t,  # see note: order key must be unique per key
    ),
    n_chunks=st.integers(1, 6),
)
@settings(**_SETTINGS)
@pytest.mark.slow  # r17 tiering: measured 19s; full (evidence) tier only
def test_two_pass_prefix_sum_equals_one_pass(spark, rows, n_chunks):
    """The two-pass (scan) prefix sum is bit-identical to the one-pass
    keyed window for ANY key distribution, weight signs included, and
    for ANY chunk count (the result must not depend on where the range
    boundaries land). Order keys are made unique per key — the
    operator's documented contract (ties would make BOTH forms
    nondeterministic)."""
    from pyspark.sql import Window

    from datapipeline_scraping_spark.operators.packing import (
        prefix_sum_two_pass,
    )

    # (key, weight) pairs -> assign a unique order value per key
    seen: dict[int, int] = {}
    data = []
    for k, wt in rows:
        seen[k] = seen.get(k, 0) + 1
        data.append((k, seen[k], wt))
    df = spark.createDataFrame(data, "k long, ord long, wt long")
    got = prefix_sum_two_pass(
        df, key="k", order="ord", weight="wt", out="ps", n_chunks=n_chunks
    )
    w = (
        Window.partitionBy("k")
        .orderBy("ord")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = df.withColumn("ps", F.sum("wt").over(w))
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


# ---------------------------------------------------------------------------
# schema-evolution lattice (operators/txn.py::evolve_schema)
# ---------------------------------------------------------------------------

_EVOLVE_TYPES = ["tinyint", "smallint", "int", "bigint", "float", "double",
                 "string", "date", "timestamp", "boolean"]
_WIDEN_PAIRS = {
    ("tinyint", "smallint"), ("tinyint", "int"), ("tinyint", "bigint"),
    ("tinyint", "double"), ("smallint", "int"), ("smallint", "bigint"),
    ("smallint", "double"), ("int", "bigint"), ("int", "double"),
    ("float", "double"), ("date", "timestamp"),
}


def _struct(cols):
    from pyspark.sql import types as T

    m = {
        "tinyint": T.ByteType(), "smallint": T.ShortType(),
        "int": T.IntegerType(), "bigint": T.LongType(),
        "float": T.FloatType(), "double": T.DoubleType(),
        "string": T.StringType(), "date": T.DateType(),
        "timestamp": T.TimestampType(), "boolean": T.BooleanType(),
    }
    return T.StructType([T.StructField(n, m[t], True) for n, t in cols])


@given(
    shared=st.lists(
        st.tuples(st.sampled_from("abcde"), st.sampled_from(_EVOLVE_TYPES)),
        max_size=4, unique_by=lambda t: t[0],
    ),
    extra_new=st.lists(
        st.tuples(st.sampled_from("vwxyz"), st.sampled_from(_EVOLVE_TYPES)),
        max_size=3, unique_by=lambda t: t[0],
    ),
)
@settings(max_examples=40, deadline=None)
def test_evolve_schema_lattice(shared, extra_new):
    """evolve_schema is identity on equal schemas, keeps every old
    column with a type at least as wide, appends new-only columns in
    order, and raises on any pair outside the widening lattice — in
    EITHER direction the wider of the two survives."""
    from datapipeline_scraping_spark.operators.txn import (
        SchemaEvolutionError, evolve_schema,
    )

    old = _struct(shared)
    assert evolve_schema(old, old) == old  # identity

    # perturb the incoming types per shared column
    import random as _r

    rng = _r.Random(42)
    new_cols = []
    legal = True
    for n, t in shared:
        t2 = rng.choice(_EVOLVE_TYPES)
        if t2 != t and (t, t2) not in _WIDEN_PAIRS \
                and (t2, t) not in _WIDEN_PAIRS:
            legal = False
        new_cols.append((n, t2))
    new = _struct(new_cols + extra_new)

    if not legal:
        try:
            evolve_schema(old, new)
        except SchemaEvolutionError:
            return
        raise AssertionError("expected SchemaEvolutionError")
    out = evolve_schema(old, new)
    out_types = {f.name: f.dataType.simpleString() for f in out.fields}
    # every old column survives with the WIDER of the two types
    for (n, t), (_, t2) in zip(shared, new_cols):
        expect = t2 if (t, t2) in _WIDEN_PAIRS else t
        assert out_types[n] == expect, (n, t, t2, out_types[n])
    # new-only columns append, in incoming order, with their own types
    assert [f.name for f in out.fields][len(shared):] == \
        [n for n, _ in extra_new]
    for n, t in extra_new:
        assert out_types[n] == t


# ---------------------------------------------------------------------------
# change-data-feed soundness (operators/txn.py::ManifestTable.diff)
# ---------------------------------------------------------------------------

@given(
    v1=st.lists(
        st.tuples(st.integers(0, 9), st.integers(-5, 5)),
        max_size=8, unique_by=lambda t: t[0],
    ),
    v2=st.lists(
        st.tuples(st.integers(0, 9), st.integers(-5, 5)),
        max_size=8, unique_by=lambda t: t[0],
    ),
)
@settings(**_SETTINGS)
@pytest.mark.slow  # r17 tiering: measured 15s; full (evidence) tier only
def test_cdf_applies_v1_to_v2(spark, tmp_path_factory, v1, v2):
    """APPLY-soundness of the change data feed: for ANY two keyed
    states, (v1 - deleted/update_pre keys) + insert/update_post rows
    == v2 exactly, and unchanged keys emit no rows. This is the
    contract an incremental consumer relies on when catching up from
    version N by applying the feed instead of re-reading the table."""
    from datapipeline_scraping_spark.operators.txn import ManifestTable

    root = str(tmp_path_factory.mktemp("cdf"))
    tbl = ManifestTable(root)
    schema = "k long, x long"
    tbl.commit(spark.createDataFrame(v1 or [(999, 0)], schema))
    tbl.commit(spark.createDataFrame(v2 or [(998, 0)], schema))
    v1_rows = {k: x for k, x in (v1 or [(999, 0)])}
    v2_rows = {k: x for k, x in (v2 or [(998, 0)])}

    feed = [
        (r["_change_type"], r["k"], r["x"])
        for r in tbl.diff(spark, 1, 2, ["k"]).collect()
    ]
    # no rows for unchanged keys
    unchanged = {
        k for k in v1_rows if k in v2_rows and v1_rows[k] == v2_rows[k]
    }
    assert not [f for f in feed if f[1] in unchanged]
    # pre-images carry v1 values, post-images v2 values
    for op, k, x in feed:
        if op in ("delete", "update_preimage"):
            assert x == v1_rows[k], (op, k)
        else:
            assert x == v2_rows[k], (op, k)
    # apply the feed to v1 -> must equal v2 exactly
    out = dict(v1_rows)
    for op, k, x in feed:
        if op == "delete":
            del out[k]
        elif op in ("insert", "update_postimage"):
            out[k] = x
    assert out == v2_rows


# ---------------------------------------------------------------------------
# merge-on-read DML: model-based sequences
# ---------------------------------------------------------------------------

#: op = (kind, a, b) interpreted against keys 0..19:
#:   delete: remove keys with a <= pk % 10 <= b
#:   update: set v = v + "!" for keys with a <= pk % 10 <= b
#:   compact / restore_prev: maintenance commits interleaved
_DML_OP = st.tuples(
    st.sampled_from(["delete", "update", "compact", "commit_extra"]),
    st.integers(0, 9),
    st.integers(0, 9),
)


@given(ops=st.lists(_DML_OP, min_size=1, max_size=5))
@settings(**_SETTINGS)
@pytest.mark.slow  # r17 tiering: measured 26s; full (evidence) tier only
def test_dml_sequence_matches_model(spark, tmp_path_factory, ops):
    """Any interleaving of MoR DELETE / MoR UPDATE / compaction /
    full-rewrite commits equals a plain Python dict model — the
    read-path visibility composition (DV anti-join + update delta +
    materialization) is exact for arbitrary statement sequences."""
    from datapipeline_scraping_spark.operators.txn import (
        ManifestTable,
        compact_table,
    )

    root = str(tmp_path_factory.mktemp("dmlseq") / "t")
    tbl = ManifestTable(root, retention_sec=3600)
    model = {i: f"v{i}" for i in range(20)}
    tbl.commit(
        spark.createDataFrame(
            sorted(model.items()), "pk long, v string"
        )
    )
    for kind, a, b in ops:
        lo, hi = min(a, b), max(a, b)
        if kind == "delete":
            tbl.delete_where(
                spark, f"pk % 10 between {lo} and {hi}", ["pk"]
            )
            model = {
                k: v for k, v in model.items() if not lo <= k % 10 <= hi
            }
        elif kind == "update":
            tbl.update_where(
                spark,
                f"pk % 10 between {lo} and {hi}",
                {"v": "concat(v, '!')"},
                ["pk"],
            )
            model = {
                k: (v + "!" if lo <= k % 10 <= hi else v)
                for k, v in model.items()
            }
        elif kind == "compact":
            compact_table(spark, root, target_files=1)
        else:  # commit_extra: full rewrite + one new key
            new_key = 100 + len(model)
            model[new_key] = "x"
            tbl.commit(
                spark.createDataFrame(
                    sorted(model.items()), "pk long, v string"
                )
            )
        got = {r["pk"]: r["v"] for r in tbl.read(spark).collect()}
        assert got == model, f"divergence after {kind}({lo},{hi})"


#: clustered twin of _DML_OP (r12): delete / update land MoR sidecars
#: on the bucketed snapshot, append lands bucket-preserving files with
#: fresh keys, compact folds sidecars + multi-file buckets per bucket
_CDML_OP = st.tuples(
    st.sampled_from(["delete", "update", "append", "compact"]),
    st.integers(0, 9),
    st.integers(0, 9),
)


@given(ops=st.lists(_CDML_OP, min_size=1, max_size=4))
@settings(**_SETTINGS)
@pytest.mark.slow  # r17 tiering: measured 21s; full (evidence) tier only
def test_clustered_dml_sequence_matches_model(spark, tmp_path_factory, ops):
    """Any interleaving of MoR DELETE / MoR UPDATE / bucket-preserving
    append / per-bucket compaction on a CLUSTERED snapshot equals a
    plain Python dict model through read_clustered AND plain read()
    — and every version keeps its bucket spec (the r12 clustered-DML
    read/visibility composition is exact for arbitrary sequences)."""
    from datapipeline_scraping_spark.operators.txn import (
        ManifestTable,
        compact_clustered,
    )

    root = str(tmp_path_factory.mktemp("cdmlseq") / "t")
    tbl = ManifestTable(root, retention_sec=3600)
    model = {i: i * 3 for i in range(20)}
    tbl.commit_clustered(
        spark.createDataFrame(sorted(model.items()), "pk long, v long"),
        "pk",
        4,
    )
    next_key = 100
    for kind, a, b in ops:
        lo, hi = min(a, b), max(a, b)
        if kind == "delete":
            tbl.delete_where(
                spark, f"pk % 10 between {lo} and {hi}", ["pk"]
            )
            model = {
                k: v for k, v in model.items() if not lo <= k % 10 <= hi
            }
        elif kind == "update":
            tbl.update_where(
                spark,
                f"pk % 10 between {lo} and {hi}",
                {"v": "v + 1000"},
                ["pk"],
            )
            model = {
                k: (v + 1000 if lo <= k % 10 <= hi else v)
                for k, v in model.items()
            }
        elif kind == "append":
            fresh = {next_key + i: (next_key + i) * 3 for i in range(3)}
            next_key += 3
            tbl.append_clustered(
                spark.createDataFrame(
                    sorted(fresh.items()), "pk long, v long"
                )
            )
            model.update(fresh)
        else:
            compact_clustered(spark, root)
            e = tbl._log_entry(tbl.version()) or {}
            assert not e.get("dv") and not e.get("mor_delta"), (
                "compaction must fold all MoR state"
            )
        entry = tbl._log_entry(tbl.version()) or {}
        assert entry.get("bucket"), f"{kind} dropped the bucket spec"
        got = {
            r["pk"]: r["v"] for r in tbl.read_clustered(spark).collect()
        }
        assert got == model, f"clustered read diverged after {kind}"
        got_plain = {r["pk"]: r["v"] for r in tbl.read(spark).collect()}
        assert got_plain == model, f"plain read diverged after {kind}"


# ---------------------------------------------------------------------------
# SQ8 quantization / boilerplate removal: pure-Python models
# ---------------------------------------------------------------------------

_vec = st.lists(
    st.floats(
        min_value=-8.0,
        max_value=8.0,
        allow_nan=False,
        allow_infinity=False,
        width=32,
    ),
    min_size=4,
    max_size=4,
)


@given(vecs=st.lists(_vec, min_size=2, max_size=10))
@settings(**_SETTINGS)
@pytest.mark.slow  # r17 tiering: measured 14s; full (evidence) tier only
def test_sq8_codes_match_model_on_random_vectors(spark, tmp_path_factory, vecs):
    """SQ8 encoding equals the pure-Python affine model for arbitrary
    float32 vectors (array-HOF rule: a Spark HOF miscompilation cannot
    hide behind a SQL oracle that shares its expression tree)."""
    import math

    from datapipeline_scraping_spark.operators.similarity import (
        sq8_codes,
        sq8_params,
    )

    import struct

    # snap to exact float32 values so Spark's float cast is lossless
    vecs = [
        [struct.unpack("f", struct.pack("f", x))[0] for x in v] for v in vecs
    ]
    emb = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id long, embedding array<float>"
    )
    params = sq8_params(emb, "embedding")
    got = {
        r["vec_id"]: r["codes"]
        for r in sq8_codes(emb, "vec_id", "embedding", params).collect()
    }
    dim = 4
    mins = [min(v[d] for v in vecs) for d in range(dim)]
    steps = [(max(v[d] for v in vecs) - mins[d]) / 255.0 for d in range(dim)]

    def code(x, d):
        if steps[d] == 0.0:
            return 0
        return int(min(255.0, max(0.0, math.floor((x - mins[d]) / steps[d]))))

    want = {i: [code(v[d], d) for d in range(dim)] for i, v in enumerate(vecs)}
    assert got == want
    assert all(0 <= c <= 255 for cs in got.values() for c in cs)


_bp_word = st.sampled_from(["aa", "bb", "cc", "dd"])
_bp_doc = st.lists(_bp_word, min_size=1, max_size=6)


@given(
    docs=st.lists(
        st.tuples(_bp_doc, st.sampled_from(["s1", "s2"])),
        min_size=1,
        max_size=8,
    ),
    chunk=st.integers(2, 3),
)
@settings(**_SETTINGS)
@pytest.mark.slow  # r17 tiering: measured 19s; full (evidence) tier only
def test_boilerplate_strip_matches_model(spark, tmp_path_factory, docs, chunk):
    """boilerplate_strip equals a pure-Python model for arbitrary tiny
    corpora: chunking grid, per-source df threshold, drop-all-copies,
    ordered reassembly."""
    import hashlib
    import math

    from datapipeline_scraping_spark.operators.text import boilerplate_strip

    rows = [(i, " ".join(words), src) for i, (words, src) in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    got = {
        r["doc_id"]: (r["source"], r["n_chunks"], r["n_kept"], r["clean_hash"])
        for r in boilerplate_strip(
            df, chunk_tokens=chunk, min_df=2, df_frac=0.05
        ).collect()
    }

    # model
    def chunks_of(words):
        return [
            (p + 1, " ".join(words[p : p + chunk]))
            for p in range(0, len(words), chunk)
        ]

    per_source_docs = {}
    df_count: dict[tuple[str, str], set] = {}
    for i, (words, src) in enumerate(docs):
        per_source_docs.setdefault(src, set()).add(i)
        for _, c in chunks_of(words):
            df_count.setdefault((src, c), set()).add(i)
    boiler = {
        key
        for key, ds in df_count.items()
        if len(ds) >= max(2, math.ceil(0.05 * len(per_source_docs[key[0]])))
    }
    want = {}
    for i, (words, src) in enumerate(docs):
        ch = chunks_of(words)
        kept = [(p, c) for p, c in ch if (src, c) not in boiler]
        clean = " ".join(c for _, c in sorted(kept))
        want[i] = (
            src,
            len(ch),
            len(kept),
            hashlib.md5(clean.encode()).hexdigest(),
        )
    assert got == want


# ---------------------------------------------------------------------------
# r11: ledger ingest sequences (append / bin-pack / MoR DML / rewrite)
# ---------------------------------------------------------------------------

#: op kinds against keys 0..∞ (appends mint fresh keys):
#:   append:  add 3 fresh keys (zero-rewrite add-file commit)
#:   delete:  remove keys with a <= pk % 10 <= b (deletion vector)
#:   update:  v += "!" for keys with a <= pk % 10 <= b (MoR delta)
#:   binpack: compact_small_files (content-preserving repack)
_INGEST_OP = st.tuples(
    st.sampled_from(["append", "delete", "update", "binpack"]),
    st.integers(0, 9),
    st.integers(0, 9),
)


@given(ops=st.lists(_INGEST_OP, min_size=1, max_size=5))
@settings(**_SETTINGS)
@pytest.mark.slow  # r17 tiering: measured 23s; full (evidence) tier only
def test_ingest_sequence_matches_model(spark, tmp_path_factory, ops):
    """Any interleaving of zero-rewrite APPENDs, MoR DELETE/UPDATE and
    bin-packing compaction equals a plain dict model. The interesting
    composition: appended files join a snapshot that may carry a DV +
    update delta (the append links them forward verbatim), and
    bin-packing must preserve the visible state while rewriting only
    small files. Appends mint fresh keys (colliding appends are
    refused by contract and tested separately)."""
    from datapipeline_scraping_spark.operators.txn import (
        ManifestTable,
        compact_small_files,
    )

    root = str(tmp_path_factory.mktemp("ingestseq") / "t")
    tbl = ManifestTable(root, retention_sec=3600)
    model = {i: f"v{i}" for i in range(12)}
    next_key = 100
    tbl.commit(
        spark.createDataFrame(sorted(model.items()), "pk long, v string")
    )
    for kind, a, b in ops:
        lo, hi = min(a, b), max(a, b)
        if kind == "append":
            fresh = {next_key + i: f"a{next_key + i}" for i in range(3)}
            next_key += 3
            tbl.append(
                spark.createDataFrame(
                    sorted(fresh.items()), "pk long, v string"
                ).coalesce(1)
            )
            model.update(fresh)
        elif kind == "delete":
            tbl.delete_where(
                spark, f"pk % 10 between {lo} and {hi}", ["pk"]
            )
            model = {
                k: v for k, v in model.items() if not lo <= k % 10 <= hi
            }
        elif kind == "update":
            tbl.update_where(
                spark,
                f"pk % 10 between {lo} and {hi}",
                {"v": "concat(v, '!')"},
                ["pk"],
            )
            model = {
                k: (v + "!" if lo <= k % 10 <= hi else v)
                for k, v in model.items()
            }
        else:  # binpack — no-op allowed when nothing small enough
            compact_small_files(
                spark, root, min_file_bytes=1 << 30,
                target_file_bytes=1 << 30, min_gain_files=1,
            )
        got = {r["pk"]: r["v"] for r in tbl.read(spark).collect()}
        assert got == model, f"divergence after {kind}({lo},{hi})"


# ---------------------------------------------------------------------------
# r11: clustered-ledger sequences (bucket-preserving append / per-bucket
# compaction / full re-cluster)
# ---------------------------------------------------------------------------

_CLUSTER_OP = st.sampled_from(["cappend", "ccompact", "recluster"])


@given(ops=st.lists(_CLUSTER_OP, min_size=1, max_size=4))
@settings(**_SETTINGS)
@pytest.mark.slow  # r17 tiering: measured 37s; full (evidence) tier only
def test_clustered_sequence_matches_model(spark, tmp_path_factory, ops):
    """Any interleaving of bucket-preserving appends, per-bucket
    compaction and full re-clustering keeps BOTH read paths exact (the
    plain snapshot read and the bucketed catalog read) and keeps every
    version clustered-readable — the bucket spec is never silently
    dropped by maintenance."""
    from datapipeline_scraping_spark.operators.txn import (
        ManifestTable,
        compact_clustered,
    )

    root = str(tmp_path_factory.mktemp("clseq") / "t")
    tbl = ManifestTable(root, retention_sec=3600)
    model = {i: i * 2 for i in range(40)}
    next_key = 100

    def frame(d):
        return spark.createDataFrame(sorted(d.items()), "pk long, v long")

    tbl.commit_clustered(frame(model), "pk", 4)
    for kind in ops:
        if kind == "cappend":
            fresh = {next_key + i: (next_key + i) * 2 for i in range(5)}
            next_key += 5
            tbl.append_clustered(frame(fresh))
            model.update(fresh)
        elif kind == "ccompact":
            compact_clustered(spark, root)  # no-op allowed
        else:
            tbl.commit_clustered(frame(model), "pk", 4)
        for reader in (tbl.read, tbl.read_clustered):
            got = {r["pk"]: r["v"] for r in reader(spark).collect()}
            assert got == model, f"{reader.__name__} diverged after {kind}"


#: partition-evolution twin (r12): evolve changes the ACTIVE spec
#: metadata-only; append lands fresh keys under it; MoR delete/update
#: and the full-rewrite migration must stay exact across any spec mix
_PEVO_OP = st.tuples(
    st.sampled_from(
        [
            "evolve",
            "append",
            "delete",
            "update",
            "compact",
            "sort",  # r13: declared write sort order interleaves
            "zcompact",  # r13: OPTIMIZE ZORDER over a multi-spec table
        ]
    ),
    st.integers(0, 9),
    st.integers(0, 9),
)


@given(ops=st.lists(_PEVO_OP, min_size=1, max_size=5))
@settings(**_SETTINGS)
@pytest.mark.slow  # r17 tiering: measured 26s; full (evidence) tier only
def test_partition_evolution_sequence_matches_model(
    spark, tmp_path_factory, ops
):
    """Any interleaving of partition evolution / append / MoR DELETE /
    MoR UPDATE / migrating compaction equals a plain Python dict model
    — the per-spec union read (dir-encoded columns reconstructed per
    subtree) is exact for arbitrary statement sequences, and the
    active spec cycles through three layouts (grp dirs, pk dirs,
    unpartitioned) so every pairing of specs coexists in one
    snapshot. r13 (VERDICT r12 item 5) adds the declared write sort
    order and ZORDER compaction to the alphabet: a sort order
    declared before an evolution whose new spec includes a sort
    column must survive the evolution (and every DML/compaction
    entry), sorted appends must stay exact under any spec, and
    OPTIMIZE ZORDER over a multi-spec table must migrate + collapse
    the spec history like the plain rewrite does."""
    from datapipeline_scraping_spark.operators.txn import (
        ManifestTable,
        compact_table,
    )

    root = str(tmp_path_factory.mktemp("pevoseq") / "t")
    tbl = ManifestTable(root, retention_sec=3600)
    model = {i: (f"g{i % 3}", f"v{i}") for i in range(20)}

    def df_of(d):
        return spark.createDataFrame(
            sorted((k, g, v) for k, (g, v) in d.items()),
            "pk long, grp string, v string",
        )

    specs_cycle = [["grp"], ["pk"], []]
    sort_cycle = [["v"], ["grp", "v"], []]
    spec_i = 0
    sort_i = -1  # -1 = never declared
    tbl.commit(df_of(model), partition_by=specs_cycle[0])
    next_key = 100
    for kind, a, b in ops:
        lo, hi = min(a, b), max(a, b)
        if kind == "sort":
            sort_i = (sort_i + 1) % 3
            tbl.set_sort_order(sort_cycle[sort_i])
        elif kind == "zcompact":
            # zorder_key interleaves NUMERIC dimensions; pk is the
            # only numeric column here (q194 exercises a real 2-dim
            # zorder over the orders ledger)
            compact_table(spark, root, target_files=2, zorder_by=["pk"])
            entry = tbl._log_entry(tbl.version()) or {}
            assert entry.get("specs") is None, (
                "zorder compaction must collapse the spec history"
            )
        elif kind == "evolve":
            spec_i = (spec_i + 1) % 3
            tbl.evolve_partition(specs_cycle[spec_i])
        elif kind == "append":
            fresh = {
                next_key + j: (f"g{(next_key + j) % 3}", "new")
                for j in range(3)
            }
            next_key += 3
            tbl.append(df_of(fresh))
            model.update(fresh)
        elif kind == "delete":
            tbl.delete_where(
                spark, f"pk % 10 between {lo} and {hi}", ["pk"]
            )
            model = {
                k: gv for k, gv in model.items() if not lo <= k % 10 <= hi
            }
        elif kind == "update":
            tbl.update_where(
                spark,
                f"pk % 10 between {lo} and {hi}",
                {"v": "concat(v, '!')"},
                ["pk"],
            )
            model = {
                k: ((g, v + "!") if lo <= k % 10 <= hi else (g, v))
                for k, (g, v) in model.items()
            }
        else:  # compact: migrate everything to the active spec
            compact_table(spark, root, target_files=1)
            entry = tbl._log_entry(tbl.version()) or {}
            assert entry.get("specs") is None, (
                "compaction must collapse the spec history"
            )
        got = {
            r["pk"]: (r["grp"], r["v"])
            for r in tbl.read(spark).collect()
        }
        assert got == model, f"divergence after {kind}({lo},{hi})"
        entry = tbl._log_entry(tbl.version()) or {}
        assert list(entry.get("partition_by") or []) == specs_cycle[spec_i]
        # the declared sort order rides every entry-producing path —
        # evolution, append, MoR DML, and both compaction flavors
        if sort_i >= 0:
            assert (
                list((entry.get("meta") or {}).get("sort_order") or [])
                == sort_cycle[sort_i]
            ), f"sort order lost after {kind}"


#: pushdown probe = (kind, col_idx, a, b) over (id long, grp string,
#: v double, ts timestamp_ntz) — id 0..59, grp g0..g2, v = id/2,
#: ts = 2024-03-01 + id hours (r14: temporal literals in the grammar)
_PUSH_OP = st.tuples(
    st.sampled_from(
        ["eq", "ne", "ge", "le", "between", "in",
         "nin", "like", "nlike"]  # r15: NOT IN / [NOT] LIKE
    ),
    st.sampled_from(["id", "grp", "v", "ts"]),
    st.integers(-5, 65),
    st.integers(-5, 65),
)

#: LIKE patterns over the grp domain (g0..g2): prefix-prunable,
#: leading-wildcard, single-char, and never-matching shapes
_LIKE_PATS = ["g%", "g_", "%1", "%g0%", "zz%", "g0"]

_TS0 = datetime.datetime(2024, 3, 1)


def _push_lit(col: str, x: int) -> str:
    if col == "grp":
        return "'g%d'" % (abs(x) % 3)
    if col == "v":
        return str(x / 2.0)
    if col == "ts":
        t = _TS0 + datetime.timedelta(hours=x)
        return f"TIMESTAMP '{t.isoformat(sep=' ')}'"
    return str(x)


def _push_pred(kind: str, col: str, a: int, b: int) -> str:
    lo, hi = min(a, b), max(a, b)
    if kind == "eq":
        return f"{col} = {_push_lit(col, a)}"
    if kind == "ne":
        return f"{col} != {_push_lit(col, a)}"
    if kind == "ge":
        return f"{col} >= {_push_lit(col, a)}"
    if kind == "le":
        return f"{col} <= {_push_lit(col, a)}"
    if kind == "between":
        return f"{col} BETWEEN {_push_lit(col, lo)} AND {_push_lit(col, hi)}"
    if kind == "nin":
        return f"{col} NOT IN ({_push_lit(col, lo)}, {_push_lit(col, hi)})"
    if kind in ("like", "nlike"):
        # LIKE is string-only: always probe the grp column
        pat = _LIKE_PATS[abs(a) % len(_LIKE_PATS)]
        return f"grp {'NOT ' if kind == 'nlike' else ''}LIKE '{pat}'"
    return f"{col} IN ({_push_lit(col, lo)}, {_push_lit(col, hi)})"


@given(
    conjs=st.lists(
        st.lists(_PUSH_OP, min_size=1, max_size=3),
        min_size=1,
        max_size=3,
    )
)
@settings(**_SETTINGS)
@pytest.mark.slow  # r17 tiering: measured 47s; full (evidence) tier only
def test_pushdown_never_drops_qualifying_rows(
    spark, tmp_path_factory, conjs
):
    """Any DNF (OR of conjunctions, r15 — previously conjunctions
    only) of pushed comparison filters through a predicate view
    returns EXACTLY the rows the same predicate returns on
    the full in-memory frame — file skipping is an optimization,
    never a correctness filter (random probes over a partitioned +
    stats-covered + evolved table). AND-binds-tighter precedence is
    Spark's own, so the same string drives both sides."""
    from datapipeline_scraping_spark.operators.txn import ManifestTable
    from datapipeline_scraping_spark.sources.manifest_datasource import (
        register,
    )
    from datapipeline_scraping_spark.sources.manifest_sql import (
        predicate_view,
    )

    register(spark)
    root = str(tmp_path_factory.mktemp("pushprop") / "t")
    mt = ManifestTable(root, retention_sec=3600)
    df = spark.createDataFrame(
        [
            (
                i,
                "g%d" % (i % 3),
                i / 2.0,
                _TS0 + datetime.timedelta(hours=i),
            )
            for i in range(60)
        ],
        "id long, grp string, v double, ts timestamp_ntz",
    )
    mt.commit(
        df.filter("id < 40").repartitionByRange(3, "id"),
        partition_by=["grp"],
        stats_by=["id", "v", "ts"],
        keep_snapshots=50,
    )
    # evolve so the probe exercises BOTH dir-encoded and stats paths
    mt.evolve_partition(["id"], keep_snapshots=50)
    mt.append(df.filter("id >= 40"), keep_snapshots=50)

    where = " OR ".join(
        " AND ".join(_push_pred(*op) for op in conj) for conj in conjs
    )
    # the predicate through a predicate view (planning-time file
    # skipping + the view's Spark predicate) ...
    predicate_view(spark, "pv_pushprop", root, where)
    got = sorted(
        map(
            tuple,
            spark.table("pv_pushprop")
            .select("id", "grp", "v", "ts")
            .collect(),
        )
    )
    exp = sorted(
        map(tuple, df.filter(where).select("id", "grp", "v", "ts").collect())
    )
    assert got == exp, f"predicate view dropped rows for WHERE {where}"
    # ... and as a plain Spark filter over the unfiltered relation
    got2 = sorted(
        map(
            tuple,
            spark.read.format("manifest")
            .option("root", root)
            .load()
            .filter(where)
            .select("id", "grp", "v", "ts")
            .collect(),
        )
    )
    assert got2 == exp, f"plain filter dropped rows for WHERE {where}"


@given(
    conjs=st.lists(
        st.lists(_PUSH_OP, min_size=1, max_size=3),
        min_size=1,
        max_size=2,
    )
)
@settings(**_SETTINGS)
@pytest.mark.slow  # r17 tiering: measured 26s; full (evidence) tier only
def test_pushdown_never_drops_qualifying_rows_clustered(
    spark, tmp_path_factory, conjs
):
    """The pushdown property over a CLUSTERED table (r13; DNF r15):
    bucket pruning from equality points must compose with the DV
    anti-join and the always-scanned ``_upd`` delta — any random DNF
    of pushed filters through a predicate view returns exactly what the
    same predicate returns on the equivalent in-memory frame. The
    bucket prune composes across disjuncts as a UNION of allowed
    bucket sets (vetoed entirely by any conjunct not pinning the
    bucket column)."""
    from datapipeline_scraping_spark.operators.txn import ManifestTable
    from datapipeline_scraping_spark.sources.manifest_sql import (
        predicate_view,
    )

    root = str(tmp_path_factory.mktemp("pushclus") / "t")
    mt = ManifestTable(root, retention_sec=3600)
    df = spark.createDataFrame(
        [
            (
                i,
                "g%d" % (i % 3),
                i / 2.0,
                _TS0 + datetime.timedelta(hours=i),
            )
            for i in range(60)
        ],
        "id long, grp string, v double, ts timestamp_ntz",
    )
    mt.commit_clustered(df, "id", 4)
    # MoR churn on top of the buckets: a delete and an update whose
    # post-image rows ride the always-scanned _upd delta
    mt.delete_where(spark, "id % 10 = 7", ["id"])
    mt.update_where(
        spark, "id % 10 = 3", {"v": "v + 100"}, ["id"]
    )
    expected = df.filter("id % 10 != 7").withColumn(
        "v",
        F.when(F.col("id") % 10 == 3, F.col("v") + 100).otherwise(
            F.col("v")
        ),
    )

    where = " OR ".join(
        " AND ".join(_push_pred(*op) for op in conj) for conj in conjs
    )
    predicate_view(spark, "pv_pushclus", root, where)
    got = sorted(
        map(
            tuple,
            spark.table("pv_pushclus").select("id", "grp", "v", "ts").collect(),
        )
    )
    exp = sorted(
        map(
            tuple,
            expected.filter(where).select("id", "grp", "v", "ts").collect(),
        )
    )
    assert got == exp, f"clustered predicate view dropped rows for {where}"


@given(
    parts=st.lists(
        st.sampled_from(
            list("abcdef_ ()<>=!,'0123456789.`") + [
                " AND ", " IN ", " BETWEEN ", " IS ", " NOT ", " NULL ",
                " OR ", "DATE ", "TIMESTAMP ", "'2024-01-05'", "''",
                " LIKE ", "'ab%'", "%", "_",
            ]
        ),
        max_size=40,
    )
)
@settings(max_examples=200, deadline=None)
def test_where_grammar_fails_closed(parts):
    s = "".join(parts)
    """Fuzz the predicate grammar: ANY input either parses to a
    condition list or raises ValueError — never a different exception
    and never a silent empty accept. The fail-loudly contract is what
    lets the pruning core promise 'a predicate I cannot read exactly
    never prunes wrongly'."""
    from datapipeline_scraping_spark.sources.manifest_sql import parse_where

    try:
        out = parse_where(s)
    except ValueError:
        return
    # r15: the parse yields DISJUNCTS — a non-empty list of non-empty
    # conjunctions of conditions
    assert isinstance(out, list) and out
    for conj in out:
        assert isinstance(conj, list) and conj
        for cond in conj:
            assert cond[0] in ("cmp", "in", "null", "like", "nlike"), cond


@given(
    col=st.sampled_from(["i", "s", "d", "t", "p", "b", "f"]),
    op=st.sampled_from(["=", "!=", ">", ">=", "<", "<="]),
    lit=st.sampled_from(
        [
            "5", "2.5", "'x'", "TRUE", "'2024-01-05'",
            "DATE '2024-01-05'", "TIMESTAMP '2024-01-05 10:00:00'",
            "'not-a-date'", "-3",
        ]
    ),
)
@settings(max_examples=120, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_where_validation_fails_closed_per_type(spark, col, op, lit):
    """Every (column type × operator × literal kind) combination either
    coerces to a canonical condition or raises ValueError AT PARSE on
    the driver — executor tasks never see an unvalidated literal."""
    from pyspark.sql.types import StructType

    from datapipeline_scraping_spark.sources.manifest_sql import parse_where

    schema = StructType.fromDDL(
        "i bigint, s string, d date, t timestamp_ntz, "
        "p decimal(10,2), b boolean, f double"
    )
    conds = None
    try:
        conds = parse_where(f"{col} {op} {lit}")
        # validation/coercion without touching any table — the same
        # helper the pruning core runs per literal for both front ends
        from datapipeline_scraping_spark.sources.skipping import (
            _coerce_literal,
        )

        logical = {f.name: f.dataType.simpleString() for f in schema.fields}
        for conj in conds:
            for c in conj:
                assert c[1] in logical
                _coerce_literal(c[3], logical[c[1]], c[1])
    except ValueError:
        return


def _probe_bits(keys, fpp):
    """(m, k, n, bits) setting every bit ``_bloom_positions`` probes for
    the distinct str() forms of ``keys`` (None skipped)."""
    from datapipeline_scraping_spark.sources.skipping import (
        _bloom_params,
        _bloom_positions,
    )

    vals = {str(v) for v in keys if v is not None}
    m, k = _bloom_params(len(vals), fpp)
    bits = bytearray(m // 8)
    for v in vals:
        for pos in _bloom_positions(v, m, k):
            bits[pos >> 3] |= 1 << (pos & 7)
    return m, k, len(vals), bytes(bits)


_INT64 = st.one_of(
    st.integers(-(2**63), 2**63 - 1),
    st.sampled_from([-(2**63), -(2**63) + 1, -1, 0, 1, 2**63 - 1]),
)


@given(
    keys=st.one_of(
        st.lists(st.one_of(st.none(), st.text(max_size=6)), max_size=80),
        st.lists(st.one_of(st.none(), _INT64), max_size=80),
    ),
    # around the sizing boundaries: m's 64-bit floor and byte rounding,
    # and k's clamp at 16 (fpp 1e-6 asks for k = 20)
    fpp=st.sampled_from([1e-6, 0.001, 0.01, 0.05, 0.3]),
)
@settings(max_examples=150, deadline=None)
def test_bloom_kernel_sets_the_probed_bits(keys, fpp):
    """The sidecar's vectorized kernel sets exactly the bits the probe
    checks: the bloom of a column equals the per-key
    ``_bloom_positions`` bits over its distinct non-NULL str() forms,
    for unicode strings (the empty one too) and int64 values to both
    extremes; an all-NULL or empty column gets no bloom."""
    import pyarrow as pa

    from datapipeline_scraping_spark.sources.skipping import _bloom_of

    strings = any(isinstance(v, str) for v in keys)
    arr = pa.array(keys, pa.string() if strings else pa.int64())
    half = len(arr) // 2  # two chunks, as a multi-row-group file reads
    got = _bloom_of(pa.chunked_array([arr[:half], arr[half:]]), fpp)
    if all(v is None for v in keys):
        assert got is None
    else:
        assert got == _probe_bits(keys, fpp)


#: byte strings built from spaces, ASCII, valid multi-byte UTF-8 and
#: malformed sequences, among them an encoded surrogate (ED A0 80, ED
#: A0), which the JVM replaces by ONE U+FFFD and Python's "replace" by
#: one per byte
_DEDUP_TEXT = st.one_of(
    st.none(),
    st.lists(
        st.sampled_from(
            [b" ", b"a", b"b", b"\xc3\xa9", b"\xef\xbf\xbd", b"\xff",
             b"\xed\xa0\x80", b"\xed\xa0", b"\xe2\x82", b"\xf0\x9f\x98", b"\xc0"]
        ),
        max_size=10,
    ).map(b"".join),
)


@given(texts=st.lists(_DEDUP_TEXT, max_size=8), k=st.integers(1, 3))
@settings(**_SETTINGS)
@pytest.mark.slow  # measured 23s; full (evidence) tier only
def test_dedup_kernels_read_texts_as_spark_split_does(spark, texts, k):
    """The SimHash, MinHash-LSH band and Jaccard kernels read each text
    as Spark's ``split(text, ' ')`` does, byte for byte. Over byte
    strings with malformed UTF-8, NULL texts, and mostly or wholly
    empty partitions (at most 8 docs over the partitions the kernels'
    input is spread to), each kernel's rows equal a reference that
    takes its tokens and shingles from Spark's own ``split``
    (``posexplode`` and ``shingle_relation``) and computes the rest in
    Python."""
    import hashlib
    from itertools import combinations

    from datapipeline_scraping_spark.operators.dedup import (
        MINHASH_A,
        MINHASH_B,
        MINHASH_P,
        jaccard_verify,
        lsh_bands,
        shingle_relation,
        simhash,
    )

    df = spark.createDataFrame(
        [(i, None if t is None else t.hex()) for i, t in enumerate(texts)],
        "doc_id long, h string",
    ).select("doc_id", F.unhex("h").cast("string").alias("text"))

    def hx(raw: bytes) -> int:
        return int(hashlib.md5(raw).hexdigest()[:8], 16)

    toks: dict[int, list[bytes]] = {}
    for r in df.select(
        "doc_id", F.posexplode(F.split("text", " "))
    ).select("doc_id", "pos", F.hex(F.col("col").cast("binary")).alias("t")).collect():
        toks.setdefault(r["doc_id"], []).append((r["pos"], bytes.fromhex(r["t"])))
    exp_sim = {}
    for i, ts in toks.items():
        hs = [hx(t) for _, t in sorted(ts)]
        exp_sim[i] = sum(
            1 << j for j in range(32) if sum(1 if h >> j & 1 else -1 for h in hs) > 0
        )
    got_sim = {r["doc_id"]: r["simhash"] for r in simhash(df, "doc_id", "text").collect()}
    assert got_sim == exp_sim

    sh: dict[int, set] = {}
    for r in shingle_relation(df, "doc_id", "text", k=k).select(
        "doc_id", F.hex(F.col("s").cast("binary")).alias("s")
    ).collect():
        sh.setdefault(r["doc_id"], set()).add(bytes.fromhex(r["s"]))
    exp_bands = set()
    for i, ss in sh.items():
        mh = [min((MINHASH_A[s] * hx(x) + MINHASH_B[s]) % MINHASH_P for x in ss)
              for s in range(8)]
        for b in range(4):
            key = f"{mh[2 * b]}|{mh[2 * b + 1]}".encode()
            exp_bands.add((i, b, hashlib.md5(key).hexdigest()))
    got_bands = {tuple(r) for r in lsh_bands(df, "doc_id", "text", k=k).collect()}
    assert got_bands == exp_bands

    pairs = list(combinations(range(len(texts)), 2))
    exp_j = {
        (a, b): len(sh[a] & sh[b]) / len(sh[a] | sh[b])
        for a, b in pairs
        if sh[a] & sh[b]
    }
    got_j = jaccard_verify(
        df,
        spark.createDataFrame(pairs, "id_a long, id_b long"),
        "doc_id", "text", k=k, threshold=0.0,
    ).collect()
    assert {(r["id_a"], r["id_b"]): r["jaccard"] for r in got_j} == exp_j
