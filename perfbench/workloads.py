"""The three workloads, each driving the engine through its public
functions from one client in a closed loop.

A workload object has four phases, called by ``run.py``:

- ``generate()``: write the seeded inputs (untimed, outside set-up);
- ``setup(spark)``: session-dependent preparation such as table init;
  timed as part of ``setup_s``;
- ``op(spark, tr)``: one timed unit of work (an ETL batch, a curation
  pass, a read request); returns ``(items, ok)`` after checking the
  outputs;
- ``finish(spark, tr)``: end-of-run checks and the workload's own
  named metrics.

Span names follow the engine's module paths so a per-layer number can
be read against the code it measures.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time

import numpy as np

import gen


def _q(values: list[float], p: float) -> float:
    """Nearest-rank percentile ``p`` (0-100) of ``values``."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, math.ceil(p / 100 * len(s)) - 1))]


def _dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under ``path``."""
    total = files = 0
    for root, _dirs, fs in os.walk(path):
        for f in fs:
            total += os.path.getsize(os.path.join(root, f))
            files += f.endswith(".parquet")
    return total, files


class Workload:
    name = ""
    #: timed operations a run makes even when ``--seconds`` ends sooner
    min_ops = 1

    def __init__(self, work: str, seed: int, size: str) -> None:
        self.work = work
        self.seed = seed
        self.size = size
        self.notes: list[str] = []
        #: time spent writing inputs, which ``setup_s`` leaves out
        self.gen_s = 0.0

    def reset(self) -> None:
        """Clear per-operation accumulators (after the warm-up)."""
        self.latencies: list[float] = []

    def warmup(self, spark, tr) -> bool:
        """Untimed operations before the timed loop; True if all
        passed their checks. One operation unless overridden."""
        return self.op(spark, tr)[1]

    def fail(self, msg: str) -> bool:
        if len(self.notes) < 20:
            self.notes.append(msg)
        return False


# ---------------------------------------------------------------------------


class EtlIncremental(Workload):
    """Checksum -> pipeline (delta_split / overlay / classify_rules) ->
    copy-on-write ``merge_write`` per incoming full scrape."""

    name = "etl_incremental"
    min_ops = 3
    #: untimed batches: the first batch runs JIT-cold (measured
    #: 1.65 s -> 1.3 s over the first four on a 4-core host)
    WARMUP_BATCHES = 1
    SIZES = {"full": 20_000, "tiny": 2_000}
    CONFIG = {
        "stages": [
            {"op": "delta_split", "in": "incoming", "state": "state",
             "key": "lookup_key", "changed": "changed", "bypass": "bypass"},
            {"op": "overlay", "detail": "detail", "on": "lookup_key"},
            {"op": "classify_rules", "text_cols": ["proyecto", "objeto"]},
            {"op": "select", "cols": [
                "lookup_key", "row_hash", "no_senado", "proyecto", "autor",
                "estado", "titulo_detalle", "fecha_camara", "objeto", "sector",
            ]},
        ]
    }

    def generate(self) -> None:
        self.inputs = gen.EtlInputs(self.seed, self.SIZES[self.size])
        self.detail_path = os.path.join(self.work, "detail")
        self.inputs.write_detail(self.detail_path)
        self.base_path = os.path.join(self.work, "batch0")
        self.inputs.next_batch(self.base_path)
        self.reset()

    def reset(self) -> None:
        super().reset()
        self.batch_rows: list[int] = []
        self.changed_ratio: list[float] = []

    def _changed(self, spark, path: str, state, tr):
        from datapipeline_scraping_spark.functions.checksum import with_row_checksum
        from datapipeline_scraping_spark.plans.pipeline import build_pipeline

        incoming = spark.read.parquet(path)
        with tr.span("functions.checksum.build"):
            incoming = with_row_checksum(incoming, gen.ETL_HASH_FIELDS)
        detail = spark.read.parquet(self.detail_path)
        with tr.span("plans.pipeline.build"):
            out = build_pipeline(
                spark, self.CONFIG, "",
                frames={"incoming": incoming, "state": state, "detail": detail},
            )
        return out

    def setup(self, spark) -> None:
        from datapipeline_scraping_spark.operators.txn import ManifestTable

        from spans import Tracer

        self.root = os.path.join(self.work, "table")
        empty = spark.createDataFrame([], "lookup_key string, row_hash string")
        df = self._changed(spark, self.base_path, empty, Tracer(False))
        ManifestTable(self.root).init(df)

    def warmup(self, spark, tr) -> bool:
        return all([self.op(spark, tr)[1] for _ in range(self.WARMUP_BATCHES)])

    def op(self, spark, tr):
        from datapipeline_scraping_spark.operators.txn import ManifestTable, merge_write

        path = os.path.join(self.work, f"batch{self.inputs.batch + 1}")
        t_gen = time.perf_counter()
        planted = self.inputs.next_batch(path)  # untimed: input generation
        self.gen_s += time.perf_counter() - t_gen
        n_in = self.inputs.n_keys
        tbl = ManifestTable(self.root)
        before = _dir_bytes(self.root) if tr.enabled else None

        t0 = time.perf_counter()
        with tr.span("operators.txn.read.build"):
            state = tbl.read(spark).select("lookup_key", "row_hash")
        changed = self._changed(spark, path, state, tr).persist()
        with tr.span("operators.delta.exec", spark_jobs=True):
            n_changed = changed.count()
        with tr.span("operators.txn.merge_write.exec", spark_jobs=True):
            merge_write(spark, self.root, changed, "lookup_key", writer="manifest")
        changed.unpersist()
        self.latencies.append(time.perf_counter() - t0)
        shutil.rmtree(path, ignore_errors=True)
        self.batch_rows.append(n_in)
        self.changed_ratio.append(n_changed / n_in)
        if tr.enabled:
            after = _dir_bytes(self.root)
            snap_bytes, _ = _dir_bytes(tbl.snapshot_path())
            written = after[0] - before[0]
            tr.add("operators.txn.merge_write.bytes_written", written)
            tr.add("operators.txn.merge_write.files_written", after[1] - before[1])
            # bytes of the changed rows, at the live snapshot's bytes/row
            tr.add("operators.txn.merge_write.changed_bytes", n_changed * snap_bytes / n_in)
        ok = n_changed == planted or self.fail(
            f"batch {self.inputs.batch}: {n_changed} changed rows, planted {planted}"
        )
        return n_in, ok

    def finish(self, spark, tr) -> tuple[bool, dict]:
        from datapipeline_scraping_spark.operators.txn import ManifestTable

        tbl = ManifestTable(self.root)
        got = dict(tbl.read(spark).select("lookup_key", "row_hash").collect())
        ok = got == self.inputs.expected_hashes() or self.fail(
            "final table differs from the last batch on (lookup_key, row_hash)"
        )
        total, _ = _dir_bytes(self.root)
        live, _ = _dir_bytes(tbl.snapshot_path())
        lat = self.latencies
        named = {
            "batch_rows_per_s": (sum(self.batch_rows) / sum(lat), "rows/s"),
            "batch_s_p50": (statistics.median(lat), "s"),
            "space_amp": (total / live, "ratio"),
        }
        if tr.enabled:
            n = len(lat)
            c = tr.counters
            w = c.get("operators.txn.merge_write.changed_bytes", 0)
            named.update({
                "functions.checksum.build_s": (tr.total("functions.checksum.build") / n, "s"),
                "plans.pipeline.build_s": (tr.total("plans.pipeline.build") / n, "s"),
                "operators.delta.exec_s": (tr.total("operators.delta.exec") / n, "s"),
                "operators.delta.changed_ratio": (statistics.mean(self.changed_ratio), "ratio"),
                "operators.txn.merge_write.exec_s": (tr.total("operators.txn.merge_write.exec") / n, "s"),
                "operators.txn.merge_write.bytes_written": (c.get("operators.txn.merge_write.bytes_written", 0) / n, "bytes"),
                "operators.txn.merge_write.files_written": (c.get("operators.txn.merge_write.files_written", 0) / n, "count"),
                "operators.txn.merge_write.write_amp": (
                    c.get("operators.txn.merge_write.bytes_written", 0) / w if w else 0.0, "ratio"),
            })
        return ok, named


# ---------------------------------------------------------------------------


class CurationDedup(Workload):
    """One pass = simhash, MinHash-LSH near-dup + Jaccard verify,
    TF-IDF top terms, classify through the stub mapInPandas backend,
    and SRP-LSH cosine top-10 over the embeddings."""

    name = "curation_dedup"
    SIZES = {"full": (3_000, 2_000, 200), "tiny": (600, 400, 50)}
    NEARDUP_FLOOR = 0.9
    RECALL10_FLOOR = 0.6
    JACCARD_SAMPLE = 20

    def generate(self) -> None:
        docs, vecs, queries = self.SIZES[self.size]
        self.truth = gen.write_curation(self.work, self.seed, docs, vecs, queries)
        self.reset()

    def reset(self) -> None:
        super().reset()
        self.neardup_recall: list[float] = []
        self.recall10: list[float] = []
        self.candidates: list[int] = []
        self.verified: list[int] = []

    def setup(self, spark) -> None:
        # the corpus is read through the file source on every pass;
        # nothing to initialise beyond the session
        return None

    def warmup(self, spark, tr) -> bool:
        # a pass is 9-14 s of mostly fixed per-job cost on a 4-core
        # host, so a run affords one; it is timed JIT-cold in every run.
        # Only the Python worker pool is started, so that the timed
        # pass does not pay worker start-up in classify's mapInPandas.
        n = spark.sparkContext.defaultParallelism
        spark.range(n * 4).repartition(n).mapInPandas(lambda it: it, schema="id long").count()
        return True

    def op(self, spark, tr):
        from datapipeline_scraping_spark.operators import dedup as D
        from datapipeline_scraping_spark.operators import similarity as S
        from datapipeline_scraping_spark.operators import text as T
        from datapipeline_scraping_spark.operators.classify import DEFAULT_CONFIG, classify
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        t0 = time.perf_counter()
        docs = spark.read.parquet(os.path.join(self.work, "documents"))
        with tr.span("operators.dedup.simhash.build"):
            sh = D.simhash(docs, "doc_id", "text")
        with tr.span("operators.dedup.simhash.exec", spark_jobs=True):
            sh.write.format("noop").mode("overwrite").save()

        obs = Observation("candidates")
        with tr.span("operators.dedup.build"):
            rel = D.shingle_relation(docs, "doc_id", "text").persist()
            cand = D.minhash_lsh_pairs(docs, "doc_id", "text", shingle_rel=rel)
            cand = cand.observe(obs, F.count(F.lit(1)).alias("n"))
            pairs = D.jaccard_verify(docs, cand, "doc_id", "text", shingle_rel=rel)
        with tr.span("operators.dedup.exec", spark_jobs=True):
            found = pairs.collect()

        with tr.span("operators.text.build"):
            tf = T.tfidf_topk(docs, "doc_id", "text", top=5)
        with tr.span("operators.text.exec", spark_jobs=True):
            tf.write.format("noop").mode("overwrite").save()

        with tr.span("operators.classify.build"):
            cl = classify(docs, DEFAULT_CONFIG, "doc_id", ("text", "source"), payload_cols=())
        with tr.span("operators.classify.exec", spark_jobs=True):
            cl.write.format("noop").mode("overwrite").save()

        corpus = spark.read.parquet(os.path.join(self.work, "embeddings"))
        queries = spark.read.parquet(os.path.join(self.work, "queries"))
        with tr.span("operators.similarity.build"):
            knn = S.lsh_cosine_topk(corpus, queries, k=10)
        with tr.span("operators.similarity.exec", spark_jobs=True):
            top = knn.select("query_id", "neighbor_id").collect()
        spark.catalog.clearCache()
        self.latencies.append(time.perf_counter() - t0)
        return self.truth.n_docs, self._check(found, top, obs.get["n"])

    def _check(self, found, top, n_candidates: int) -> bool:
        t = self.truth
        got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in found}
        recall = len(t.planted_pairs & got.keys()) / max(1, len(t.planted_pairs))
        self.neardup_recall.append(recall)
        self.candidates.append(n_candidates)
        self.verified.append(len(got))
        ok = recall >= self.NEARDUP_FLOOR or self.fail(
            f"near-dup recall {recall:.3f} below floor {self.NEARDUP_FLOOR}"
        )
        for a, b in sorted(got)[: self.JACCARD_SAMPLE]:
            j = gen.jaccard(t.texts[a], t.texts[b])
            if abs(j - got[(a, b)]) > 1e-12:
                ok = self.fail(f"pair ({a},{b}) jaccard {got[(a, b)]} != python {j}")
        nn: dict[int, set] = {}
        for r in top:
            nn.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        r10 = statistics.mean(
            len(nn.get(q, set()) & set(ex)) / 10 for q, ex in t.exact_top10.items()
        )
        self.recall10.append(r10)
        return (r10 >= self.RECALL10_FLOOR or self.fail(
            f"recall@10 {r10:.3f} below floor {self.RECALL10_FLOOR}")) and ok

    def finish(self, spark, tr) -> tuple[bool, dict]:
        lat = self.latencies
        named = {
            "docs_per_s": (self.truth.n_docs * len(lat) / sum(lat), "docs/s"),
            "neardup_recall": (min(self.neardup_recall), "ratio"),
            "recall_at_10": (min(self.recall10), "ratio"),
        }
        if tr.enabled:
            n = len(lat)
            named.update({
                "operators.dedup.exec_s": (tr.total("operators.dedup.exec") / n, "s"),
                "operators.dedup.candidate_pairs": (statistics.mean(self.candidates), "count"),
                "operators.dedup.pair_precision": (
                    sum(self.verified) / max(1, sum(self.candidates)), "ratio"),
                "operators.dedup.simhash.exec_s": (tr.total("operators.dedup.simhash.exec") / n, "s"),
                "operators.text.exec_s": (tr.total("operators.text.exec") / n, "s"),
                "operators.classify.exec_s": (tr.total("operators.classify.exec") / n, "s"),
                "operators.classify.backend_rows_ratio": (
                    self.truth.backend_rows / self.truth.n_docs, "ratio"),
                "operators.similarity.exec_s": (tr.total("operators.similarity.exec") / n, "s"),
                "operators.similarity.recall": (statistics.mean(self.recall10), "ratio"),
            })
        return True, named


# ---------------------------------------------------------------------------


class QueryMix(Workload):
    """Point reads, pruned range aggregates and registry analytics,
    interleaved by a seeded schedule, against a manifest table built
    through the ETL write path (init commit + merge_write batches),
    then re-clustered by ``compact_table`` so the indexes can prune."""

    name = "query_mix"
    #: two blocks in every run, so the op count does not depend on how
    #: fast the host is (a block takes 3-7 s on a 4-core host)
    min_ops = 2
    #: the analytic requests: an aggregation and a three-way join with
    #: a top-k. Every block runs each once.
    ANALYTIC = ("q01_pricing_summary", "q03_top_orders")
    #: requests of each kind per block. Equal counts per kind are an
    #: assumption, not a measured traffic mix.
    PER_KIND = len(ANALYTIC)
    #: requests per op. A single ~100 ms point read moved up to 1.8x
    #: with host CPU steal (36% run-to-run spread of a per-request p50
    #: over ten runs on a 4-core host); a block's time averages that out.
    BLOCK = 3 * PER_KIND
    #: files the table is range-clustered into after the merges
    FILES = 16
    SIZES = {"full": (40_000, 15_000), "tiny": (5_000, 1_500)}
    RANGE_FRAC = 0.01

    def generate(self) -> None:
        rows, orders = self.SIZES[self.size]
        self.inputs = gen.write_query_mix(self.work, self.seed, rows, tpch_orders=orders)
        live = self.inputs.live
        self.ids = live.column("id").to_numpy()
        self.amount_cum = np.concatenate([[0], np.cumsum(live.column("amount").to_numpy())])
        self.rows = {r["id"]: r for r in live.to_pylist()}
        self.kinds = gen.request_kinds(self.seed, 100_000, self.PER_KIND)
        self.rng = np.random.default_rng([self.seed, 22])
        self.first_result: dict[str, tuple] = {}
        self.n_req = 0
        self.reset()

    def reset(self) -> None:
        super().reset()
        self.by_kind: dict[str, list[float]] = {"point": [], "range": [], "analytic": []}
        self.files_kept: dict[str, list[float]] = {"point": [], "range": []}
        #: (kind, key or window) of the traced block's reads, probed
        #: for pruning after the block's time is taken
        self.probes: list[tuple[str, tuple]] = []

    def setup(self, spark) -> None:
        from datapipeline_scraping_spark.operators.txn import ManifestTable, merge_write
        from datapipeline_scraping_spark.operators.txn.compact import compact_table

        self.root = os.path.join(self.work, "table")
        ManifestTable(self.root).commit(
            spark.read.parquet(self.inputs.base_path),
            expect_version=0, stats_by=["id"], bloom_by=["id"],
        )
        for p in self.inputs.batch_paths:
            merge_write(spark, self.root, spark.read.parquet(p), "id", writer="manifest")
        # merge_write leaves one file at this size, so nothing could be
        # pruned. Table maintenance re-clusters it on id; the stats and
        # bloom columns carry over. The rewrite adds files, so the
        # "files saved" gate is set below zero.
        compact_table(spark, self.root, target_files=self.FILES, sort_by=["id"],
                      min_gain_files=-self.FILES)

    def op(self, spark, tr):
        ok = True
        analytic = iter(self.ANALYTIC)
        t_block = time.perf_counter()
        for kind in self.kinds[self.n_req : self.n_req + self.BLOCK]:
            tr.new_request()
            t0 = time.perf_counter()
            if kind == "point":
                ok &= self._point(spark, tr)
            elif kind == "range":
                ok &= self._range(spark, tr)
            else:
                ok &= self._analytic(spark, tr, next(analytic))
            self.by_kind[kind].append(time.perf_counter() - t0)
        self.latencies.append(time.perf_counter() - t_block)
        self.n_req += self.BLOCK
        if tr.enabled:
            self._probe_pruning(tr)
        return self.BLOCK, ok

    def _point(self, spark, tr) -> bool:
        from datapipeline_scraping_spark.operators.txn import ManifestTable
        from pyspark.sql import functions as F

        key = int(self.ids[self.rng.integers(0, len(self.ids))])
        tbl = ManifestTable(self.root)
        with tr.span("operators.txn.read_point.build"):
            df = tbl.read_point(spark, "id", key).where(F.col("id") == key)
        with tr.span("operators.txn.read_point.exec", spark_jobs=True):
            got = [r.asDict() for r in df.collect()]
        if tr.enabled:
            self.probes.append(("point", (key,)))
        return got == [self.rows[key]] or self.fail(f"point id={key}: {got}")

    def _range(self, spark, tr) -> bool:
        from datapipeline_scraping_spark.sources.manifest_sql import predicate_view

        width = max(1, int(self.inputs.key_max * self.RANGE_FRAC))
        lo = int(self.rng.integers(0, self.inputs.key_max - width))
        hi = lo + width
        where = f"id >= {lo} AND id < {hi}"
        with tr.span("sources.manifest_sql.predicate_view.build"):
            predicate_view(spark, "qm_window", self.root, where)
            df = spark.sql(
                f"SELECT count(*) AS n, sum(amount) AS s FROM qm_window WHERE {where}"
            )
        with tr.span("sources.manifest_datasource.exec", spark_jobs=True):
            row = df.collect()[0]
        if tr.enabled:
            self.probes.append(("range", (lo, hi - 1)))
        a, b = np.searchsorted(self.ids, [lo, hi])
        want = (int(b - a), int(self.amount_cum[b] - self.amount_cum[a]) if b > a else None)
        return (row["n"], row["s"]) == want or self.fail(
            f"range [{lo},{hi}): {(row['n'], row['s'])} != {want}"
        )

    def _probe_pruning(self, tr) -> None:
        """Share of files each index keeps for the block's reads: the
        bloom for points, min/max stats for ranges. Runs after the
        block's time is taken; its time counts as tracer overhead."""
        from datapipeline_scraping_spark.operators.txn import ManifestTable

        t0 = time.perf_counter()
        tbl = ManifestTable(self.root)
        for kind, arg in self.probes:
            if kind == "point":
                kept, total, _ = tbl.bloom_pruned_files("id", *arg)
            else:
                kept, total = tbl.pruned_files("id", *arg)
            self.files_kept[kind].append(len(kept) / total)
        self.probes.clear()
        tr.overhead_s += time.perf_counter() - t0

    def _analytic(self, spark, tr, name: str) -> bool:
        from datapipeline_scraping_spark.queries import REGISTRY

        with tr.span("queries.build"):
            df = REGISTRY[name].fn(spark, self.inputs.sf_dir)
        with tr.span("queries.exec", spark_jobs=True):
            rows = [tuple(r) for r in df.collect()]
        self.first_result.setdefault(name, (df.columns, rows))
        return True

    def finish(self, spark, tr) -> tuple[bool, dict]:
        ok = self._oracle_check()
        bk = self.by_kind
        named = {
            "point_ms_p50": (1e3 * statistics.median(bk["point"]), "ms"),
            "range_ms_p50": (1e3 * statistics.median(bk["range"]), "ms"),
            "analytic_ms_p50": (1e3 * statistics.median(bk["analytic"]), "ms"),
            "ops_per_s": (self.BLOCK * len(self.latencies) / sum(self.latencies), "1/s"),
        }
        # a p90 is reported only where ten samples lie beyond it
        for kind in ("point", "range"):
            if len(bk[kind]) >= 100:
                named[f"{kind}_ms_p90"] = (1e3 * _q(bk[kind], 90), "ms")
        if tr.enabled:
            n_an = max(1, len(bk["analytic"]))
            named.update({
                "sources.tables.calls": (tr.count("sources.tables") / n_an, "count"),
                "sources.tables.build_s": (tr.total("sources.tables") / n_an, "s"),
                "sources.tables.jobs": (tr.total("sources.tables", "jobs") / n_an, "count"),
                "queries.build_s": (tr.total("queries.build") / n_an, "s"),
                "queries.exec_s": (tr.total("queries.exec") / n_an, "s"),
                "queries.jobs": ((tr.total("queries.exec", "jobs")
                                  + tr.total("sources.tables", "jobs")) / n_an, "count"),
            })
            for kind, layer in (("point", "operators.txn.read_point"),
                                ("range", "sources.manifest_datasource")):
                n = max(1, len(bk[kind]))
                named[f"{layer}.exec_s"] = (tr.total(f"{layer}.exec") / n, "s")
                named[f"{layer}.files_kept_ratio"] = (statistics.mean(self.files_kept[kind]), "ratio")
            named["operators.txn.read_point.build_s"] = (
                tr.total("operators.txn.read_point.build") / max(1, len(bk["point"])), "s")
            named["sources.manifest_sql.predicate_view.build_s"] = (
                tr.total("sources.manifest_sql.predicate_view.build") / max(1, len(bk["range"])), "s")
        return ok, named

    def _oracle_check(self) -> bool:
        """Each analytic query's first result against its DuckDB oracle
        (row count, column names and the order-insensitive multiset)."""
        import duckdb

        from datapipeline_scraping_spark.queries import REGISTRY

        con = duckdb.connect()
        try:
            for t in ("region", "nation", "customer", "supplier", "part",
                      "orders", "lineitem", "events"):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(self.inputs.sf_dir, t)}.parquet'"
                )
            ok = True
            for name in sorted(set(self.ANALYTIC) - set(self.first_result)):
                ok = self.fail(f"{name}: never ran")
            for name, (cols, rows) in self.first_result.items():
                res = con.execute(REGISTRY[name].oracle)
                dcols = [d[0] for d in res.description]
                if sorted(cols) != sorted(dcols) or _norm(rows, cols) != _norm(res.fetchall(), dcols):
                    ok = self.fail(f"{name}: result differs from its DuckDB oracle")
            return ok
        finally:
            con.close()


def _norm(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [
        tuple("NaN" if isinstance(r[i], float) and math.isnan(r[i]) else r[i] for i in order)
        for r in rows
    ]
    return sorted(out, key=repr)


def trace_table_loads(tr) -> None:
    """Wrap ``sources.tables.load_table`` in every engine module that
    imported it, so each inferred parquet read gets its own span (and
    its footer job is counted). Spans only: no Spark call is added."""
    import sys

    from datapipeline_scraping_spark.sources import tables

    orig = tables.load_table

    def load_table(spark, sf_dir, name):
        with tr.span("sources.tables", spark_jobs=True):
            return orig(spark, sf_dir, name)

    for mod in list(sys.modules.values()):
        if (getattr(mod, "__name__", "") or "").startswith("datapipeline_scraping_spark") \
                and getattr(mod, "load_table", None) is orig:
            mod.load_table = load_table


WORKLOADS = {w.name: w for w in (EtlIncremental, CurationDedup, QueryMix)}
