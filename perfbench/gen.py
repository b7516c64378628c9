"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of ``(seed, size)``: the same seed
writes byte-identical parquet files and the same planted ground truth,
a different seed a different workload. The engine under test only ever
sees the written files; the ground truth (changed keys per batch,
planted near-duplicate pairs, exact top-10 neighbours computed in
numpy, the live rows of the query table) stays on the benchmark side.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

UNIT_SEP = "\x1f"

# Words the classifier rules match (operators/classify.py DEFAULT_CONFIG):
# mixed into the Zipfian vocabulary so some rows resolve by rule and
# the rest reach the Python backend.
RULE_WORDS = (
    "join", "merge", "group", "window", "table", "column", "row",
    "stream", "batch", "hash", "sort", "key", "scan", "filter", "query",
)


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` distinct lowercase pseudo-words; rule words sit at spread
    ranks so their frequency follows the same Zipf law."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: list[str] = []
    seen = set(RULE_WORDS)
    while len(words) < n:
        w = "".join(rng.choice(letters, size=int(rng.integers(3, 9))))
        if w not in seen:
            seen.add(w)
            words.append(w)
    stride = n // len(RULE_WORDS)
    for i, w in enumerate(RULE_WORDS):
        words[3 + stride * i] = w
    return np.array(words, dtype=object)


def _zipf_ranks(rng: np.random.Generator, n_vocab: int, size: int, a: float = 1.1):
    p = 1.0 / np.arange(1, n_vocab + 1) ** a
    return rng.choice(n_vocab, size=size, p=p / p.sum())


def row_hash(values: dict[str, str]) -> str:
    """Python twin of ``functions.checksum.row_checksum`` over string
    fields: md5 of the values joined by US in sorted-name order."""
    return hashlib.md5(
        UNIT_SEP.join(values[k] for k in sorted(values)).encode()
    ).hexdigest()


def _write(table: pa.Table, path: str, n_files: int = 1) -> None:
    """Write ``table`` as ``n_files`` contiguous parquet files under
    the directory ``path`` (one file = a single-file dataset dir)."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        part = table.slice(i * step, step)
        pq.write_table(part, os.path.join(path, f"part-{i:03d}.parquet"))


# ---------------------------------------------------------------------------
# etl_incremental
# ---------------------------------------------------------------------------

ETL_HASH_FIELDS = ("autor", "estado", "lookup_key", "proyecto")


@dataclass
class EtlInputs:
    """Successive full list scrapes over a growing key set.

    Batch 0 is the base scrape; batch ``b >= 1`` re-scrapes every key,
    changes ``change_frac`` of the existing keys (a new ``estado``
    revision, so the row hash moves) and appends ``new_frac`` new keys.
    Batches are produced in order by :meth:`next_batch` — generation
    replays the revision counters, so it is cheap and deterministic."""

    seed: int
    rows: int
    change_frac: float = 0.08
    new_frac: float = 0.005
    max_batches: int = 400
    batch: int = -1
    revision: np.ndarray = field(default=None, repr=False)
    _cols: dict = field(default=None, repr=False)

    def __post_init__(self) -> None:
        rng = _rng(self.seed, 1)
        self.n_new = max(1, int(self.rows * self.new_frac))
        cap = self.rows + self.n_new * self.max_batches
        vocab = _vocab(rng, 400)
        words = vocab[_zipf_ranks(rng, len(vocab), cap * 6)].reshape(cap, 6)
        estados = np.array(
            ["radicado", "en comision", "aprobado", "archivado", "retirado"],
            dtype=object,
        )
        self._cols = {
            "lookup_key": np.array([f"P{i:07d}" for i in range(cap)], dtype=object),
            "no_senado": np.array([f"S{i * 7 % 99991:05d}" for i in range(cap)], dtype=object),
            "proyecto": np.array([" ".join(w) for w in words], dtype=object),
            "autor": np.array([f"autor {i % 997}" for i in range(cap)], dtype=object),
            "estado": estados[rng.integers(0, len(estados), cap)],
        }
        self.revision = np.zeros(cap, dtype=np.int64)

    @property
    def n_keys(self) -> int:
        return self.rows + self.n_new * max(0, self.batch)

    def _estado(self, n: int) -> np.ndarray:
        base = self._cols["estado"][:n]
        rev = self.revision[:n]
        return np.where(rev > 0, base + " r" + rev.astype(str).astype(object), base)

    def next_batch(self, path: str) -> int:
        """Write the next batch's scrape to ``path``; returns the
        planted number of new-or-changed rows (the whole base for
        batch 0)."""
        self.batch += 1
        b = self.batch
        if b > self.max_batches:
            raise RuntimeError("etl generator exhausted; raise max_batches")
        prev = self.rows + self.n_new * max(0, b - 1)
        n = self.n_keys
        if b == 0:
            planted = n
        else:
            rng = _rng(self.seed, 2, b)
            k = int(prev * self.change_frac)
            self.revision[rng.choice(prev, size=k, replace=False)] = b
            planted = k + (n - prev)
        c = self._cols
        table = pa.table(
            {
                "lookup_key": pa.array(c["lookup_key"][:n], pa.string()),
                "no_senado": pa.array(c["no_senado"][:n], pa.string()),
                "proyecto": pa.array(c["proyecto"][:n], pa.string()),
                "autor": pa.array(c["autor"][:n], pa.string()),
                "estado": pa.array(self._estado(n), pa.string()),
            }
        )
        _write(table, path, n_files=4)
        return planted

    def expected_hashes(self) -> dict[str, str]:
        """``lookup_key -> row_hash`` of the most recent batch."""
        n = self.n_keys
        c = self._cols
        cols = {
            "autor": c["autor"][:n],
            "estado": self._estado(n),
            "lookup_key": c["lookup_key"][:n],
            "proyecto": c["proyecto"][:n],
        }
        return {
            k: row_hash({f: cols[f][i] for f in ETL_HASH_FIELDS})
            for i, k in enumerate(cols["lookup_key"])
        }

    def write_detail(self, path: str) -> None:
        """Detail-stage extraction for two thirds of all keys the run
        can ever see (the rest pass through the overlay untouched)."""
        rng = _rng(self.seed, 3)
        cap = len(self.revision)
        idx = np.arange(cap)[np.arange(cap) % 3 != 0]
        vocab = _vocab(rng, 300)
        words = vocab[_zipf_ranks(rng, len(vocab), len(idx) * 8)].reshape(-1, 8)
        table = pa.table(
            {
                "lookup_key": pa.array(self._cols["lookup_key"][idx], pa.string()),
                "titulo_detalle": pa.array([f"titulo {i}" for i in idx], pa.string()),
                "fecha_camara": pa.array(
                    [f"20{10 + i % 15:02d}-{1 + i % 12:02d}-{1 + i % 28:02d}" for i in idx],
                    pa.string(),
                ),
                "objeto": pa.array([" ".join(w) for w in words], pa.string()),
            }
        )
        _write(table, path, n_files=1)


# ---------------------------------------------------------------------------
# curation_dedup
# ---------------------------------------------------------------------------


def shingle_set(text: str, k: int = 3) -> set[str]:
    """Python twin of ``operators.dedup.shingle_relation``'s shingles."""
    toks = text.split(" ")
    n = max(1, len(toks) - k + 1)
    return {" ".join(toks[i : i + k]) for i in range(n)}


def jaccard(a: str, b: str, k: int = 3) -> float:
    sa, sb = shingle_set(a, k), shingle_set(b, k)
    return len(sa & sb) / len(sa | sb)


@dataclass
class CurationTruth:
    planted_pairs: set[tuple[int, int]]
    texts: dict[int, str]
    exact_top10: dict[int, list[int]]
    backend_rows: int
    n_docs: int


def write_curation(
    out: str,
    seed: int,
    n_docs: int,
    n_vecs: int,
    n_queries: int = 200,
    dup_frac: float = 0.05,
    dim: int = 64,
    threshold: float = 0.7,
) -> CurationTruth:
    """Corpus with Zipfian vocabulary and planted near-duplicates
    (each a copy of a distinct original with 2 tokens replaced), plus
    clustered 64-d embeddings and query vectors with their exact
    cosine top-10 computed in numpy."""
    import re

    rng = _rng(seed, 10)
    vocab = _vocab(rng, 6000)
    n_dup = int(n_docs * dup_frac)
    n_orig = n_docs - n_dup
    lengths = rng.integers(50, 90, n_orig)
    ranks = _zipf_ranks(rng, len(vocab), int(lengths.sum()))
    docs: list[list[str]] = []
    pos = 0
    for n in lengths:
        docs.append(list(vocab[ranks[pos : pos + n]]))
        pos += n
    sources = rng.choice(n_orig, size=n_dup, replace=False)
    planted: set[tuple[int, int]] = set()
    for j, src in enumerate(sources):
        toks = list(docs[src])
        for p in rng.choice(len(toks), size=2, replace=False):
            toks[p] = vocab[int(rng.integers(0, len(vocab)))]
        docs.append(toks)
        planted.add((int(src), n_orig + j))
    texts = {i: " ".join(t) for i, t in enumerate(docs)}
    # every planted pair must be a true near-duplicate at the operator's
    # threshold, or recall would measure the generator, not the engine
    planted = {p for p in planted if jaccard(texts[p[0]], texts[p[1]]) >= threshold}
    perm = rng.permutation(n_docs)  # interleave copies with originals
    sources_col = np.array(["web", "forum", "news", "wiki"], dtype=object)
    ids = np.arange(n_docs, dtype=np.int64)[perm]
    doc_table = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array([texts[int(i)] for i in ids], pa.string()),
            "source": pa.array(sources_col[ids % 4], pa.string()),
        }
    )
    _write(doc_table, os.path.join(out, "documents"), n_files=4)

    rules = [re.compile(rf"(?i)\b{w}\b") for w in RULE_WORDS]
    backend_rows = sum(
        1
        for i in range(n_docs)
        if not any(r.search(f"{texts[i]} {sources_col[i % 4]}") for r in rules)
    )

    vrng = _rng(seed, 11)
    n_clusters = max(1, n_vecs // 40)
    centers = vrng.normal(size=(n_clusters, dim))
    assign = vrng.integers(0, n_clusters, n_vecs)
    corpus = (centers[assign] + 0.05 * vrng.normal(size=(n_vecs, dim))).astype(np.float32)
    q_assign = vrng.integers(0, n_clusters, n_queries)
    queries = (centers[q_assign] + 0.05 * vrng.normal(size=(n_queries, dim))).astype(
        np.float32
    )
    q_ids = np.arange(n_queries, dtype=np.int64) + 10_000_000
    for name, ids_, vecs in (
        ("embeddings", np.arange(n_vecs, dtype=np.int64), corpus),
        ("queries", q_ids, queries),
    ):
        t = pa.table(
            {
                "vec_id": pa.array(ids_, pa.int64()),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            }
        )
        _write(t, os.path.join(out, name), n_files=4 if name == "embeddings" else 1)
    c64 = corpus.astype(np.float64)
    q64 = queries.astype(np.float64)
    cos = (q64 @ c64.T) / np.outer(np.linalg.norm(q64, axis=1), np.linalg.norm(c64, axis=1))
    cos = np.round(cos, 4)
    # same total order as the operator: cosine desc, then neighbour id
    order = np.lexsort((np.broadcast_to(np.arange(n_vecs), cos.shape), -cos), axis=1)
    exact = {int(q_ids[i]): [int(x) for x in order[i, :10]] for i in range(n_queries)}
    return CurationTruth(planted, texts, exact, backend_rows, n_docs)


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------


@dataclass
class QueryMixInputs:
    """Keyed table built by an init commit plus ``merge_batches``
    upsert batches (each updates ``update_frac`` of the live keys and
    inserts new ones), the TPC-H-shaped registry tables, and the
    request sequence. :attr:`live` is the table's expected content."""

    base_path: str
    batch_paths: list[str]
    sf_dir: str
    live: pa.Table
    key_max: int


QM_CATEGORIES = ("alpha", "beta", "gamma", "delta", "omega")


def _qm_rows(rng, ids: np.ndarray, gen: int) -> pa.Table:
    return pa.table(
        {
            "id": pa.array(ids, pa.int64()),
            "grp": pa.array((ids % 97).astype(np.int32), pa.int32()),
            "amount": pa.array(rng.integers(1, 1_000_000, len(ids)), pa.int64()),
            "cat": pa.array(
                np.array(QM_CATEGORIES, dtype=object)[rng.integers(0, 5, len(ids))],
                pa.string(),
            ),
            "gen": pa.array(np.full(len(ids), gen, np.int32), pa.int32()),
        }
    )


def write_query_mix(
    out: str, seed: int, rows: int, merge_batches: int = 2, tpch_orders: int = 15000
) -> QueryMixInputs:
    rng = _rng(seed, 20)
    base = _qm_rows(rng, np.arange(rows, dtype=np.int64), 0)
    base_path = os.path.join(out, "qm_base")
    _write(base, base_path, n_files=16)
    live = {int(i): k for k, i in enumerate(base.column("id").to_pylist())}
    tables = [base]
    batch_paths = []
    key_max = rows
    for b in range(1, merge_batches + 1):
        upd = rng.choice(key_max, size=rows // 50, replace=False)
        new = np.arange(key_max, key_max + rows // 100, dtype=np.int64)
        key_max += len(new)
        batch = _qm_rows(rng, np.concatenate([np.sort(upd), new]), b)
        p = os.path.join(out, f"qm_batch{b}")
        _write(batch, p, n_files=1)
        batch_paths.append(p)
        tables.append(batch)
    # live content: last write per id wins
    allrows = pa.concat_tables(tables)
    ids = allrows.column("id").to_numpy()
    order = np.lexsort((-allrows.column("gen").to_numpy(), ids))
    first = np.ones(len(order), bool)
    first[1:] = ids[order][1:] != ids[order][:-1]
    live_tbl = allrows.take(pa.array(order[first]))
    sf_dir = os.path.join(out, "sf")
    write_tpch(sf_dir, seed, tpch_orders)
    return QueryMixInputs(base_path, batch_paths, sf_dir, live_tbl, key_max)


def request_kinds(seed: int, n: int, per_kind: int) -> list[str]:
    """Seeded request sequence: blocks holding ``per_kind`` point,
    range and analytic requests each, shuffled within each block, so
    every block has the same mix. The equal counts are an assumption,
    not a measured traffic ratio."""
    rng = _rng(seed, 21)
    block = ["point", "range", "analytic"] * per_kind
    out: list[str] = []
    while len(out) < n:
        out += list(rng.permutation(block))
    return out[:n]


def write_tpch(sf_dir: str, seed: int, n_orders: int) -> None:
    """TPC-H-shaped tables with the registry's column names and types
    (region, nation, customer, supplier, part, orders, lineitem,
    events); ``n_orders`` sets the scale (15 000 ~ sf0.01)."""
    rng = _rng(seed, 30)
    os.makedirs(sf_dir, exist_ok=True)

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(sf_dir, f"{name}.parquet"))

    def money(x):
        return np.round(x, 2)

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    put("region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(regions),
    })
    put("nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    n_cust = max(10, n_orders // 10)
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], dtype=object)
    put("customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(money(rng.uniform(-999, 9999, n_cust))),
        "c_mktsegment": pa.array(segs[rng.integers(0, 5, n_cust)], pa.string()),
    })
    n_supp = max(5, n_orders // 150)
    put("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(money(rng.uniform(-999, 9999, n_supp))),
    })
    n_part = max(10, n_orders * 2 // 15)
    adj = np.array(["small", "red", "blue", "cold", "hot", "large"], dtype=object)
    noun = np.array(["widget", "bolt", "gear", "ring", "gizmo"], dtype=object)
    retail = money(900 + (np.arange(n_part) % 1000) * 0.1)
    put("part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(adj[rng.integers(0, 6, n_part)] + " " + noun[rng.integers(0, 5, n_part)], pa.string()),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(["ECONOMY", "PROMO", "SMALL"], dtype=object)[rng.integers(0, 3, n_part)], pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(retail),
    })
    day0 = np.datetime64("1995-01-01", "us")
    odate = day0 + rng.integers(0, 2400, n_orders).astype("timedelta64[D]").astype("timedelta64[us]")
    put("orders", {
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"], dtype=object)[rng.integers(0, 3, n_orders)], pa.string()),
        "o_totalprice": pa.array(money(rng.uniform(1000, 400000, n_orders))),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], dtype=object)[rng.integers(0, 5, n_orders)], pa.string()),
    })
    n_li = n_orders * 4
    okey = rng.integers(0, n_orders, n_li).astype(np.int64)
    pkey = rng.integers(0, n_part, n_li).astype(np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    put("lineitem", {
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(pkey),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(money(qty * retail[pkey])),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"], dtype=object)[rng.integers(0, 3, n_li)], pa.string()),
        "l_linestatus": pa.array(np.array(["F", "O"], dtype=object)[rng.integers(0, 2, n_li)], pa.string()),
        "l_shipdate": pa.array(odate[okey] + rng.integers(1, 120, n_li).astype("timedelta64[D]").astype("timedelta64[us]"), pa.timestamp("us")),
    })
    n_ev = n_orders * 2 // 3
    ts = np.datetime64("2024-01-01", "us") + np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev)).astype("timedelta64[us]")
    put("events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(10, n_ev // 60), n_ev).astype(np.int64)),
        "event_type": pa.array(np.array(["click", "view", "purchase", "signup", "error"], dtype=object)[rng.integers(0, 5, n_ev)], pa.string()),
        "value": pa.array(money(rng.uniform(0, 500, n_ev))),
        "props": pa.array([f'{{"k": {i % 100}}}' for i in range(n_ev)]),
    })
