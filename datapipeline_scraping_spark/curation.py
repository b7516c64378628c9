"""Shared curation-policy constants (quality-rule thresholds, domain
cap) used by both the round-5 single-operator queries (q108/q110) and
the round-6 composed funnel (q118). Lives in its own leaf module so
query modules can share them without importing each other (the query
modules form an import chain through the registry in queries.py, so a
cross-import between them is circular)."""

from __future__ import annotations

# Gopher/C4-style quality-rule thresholds (q108, q118 stage 1)
QR_MIN_TOK, QR_MAX_TOK = 20, 2000
QR_MIN_MWL, QR_MAX_MWL = 2.0, 10.0
QR_MAX_TBF, QR_MAX_DTF = 0.2, 0.6

# per-domain document cap (q110, q118 stage 4)
DOMAIN_CAP = 15


# ===========================================================================
# the composed curation funnel (q118), in-memory OR manifest-checkpointed
# ===========================================================================

#: sentinel for :func:`run_funnel`'s self-managed scratch mode — the
#: caller wants durable (manifest-checkpointed) execution but has no
#: root to own: the funnel creates a per-invocation uuid root under
#: the engine scratch dir, reaps crash leftovers via the txn layer's
#: TTL sweep, and deletes its own root once the result rows are
#: materialized (so a healthy run never leaves anything for the sweep,
#: and — ADVICE r7 — never reads a root the sweep could reap).
EPHEMERAL = "::ephemeral::"

def run_funnel(spark, sf_dir, checkpoint_root=None, _fail_before=None):
    """The q118 curation funnel — quality rules -> exact dedup ->
    decontamination -> domain caps — with three execution modes:

    ``checkpoint_root=None`` (reference semantics): one lazy DAG with
    the two reused stage sets persisted MEMORY_AND_DISK; the funnel
    rows are computed in a single eager action and the stage sets are
    explicitly unpersisted before returning (VERDICT r6: the query no
    longer relies on the driver's clearCache), so the returned 5-row
    DataFrame is local and self-contained.

    ``checkpoint_root=<dir>`` (the 100 TB production path the q118
    docstring sketches): ONE durable commit (VERDICT r8 item 5 — the
    previous two sequential stage commits were the measured floor):
    the s2 quality+dedup survivors are committed with a ``keep3``
    decontamination flag column, so the s3 state is a FILTER of the
    same snapshot instead of a second written table — one write job,
    |s2| rows written instead of |s2|+|s3|. The contamination flag
    rides the quality stage's own explode (r9, VERDICT r8 item 5's
    second lever): each position's 4-gram broadcast-joins the distinct
    bench-shingle set map-side and per-doc ``cont`` falls out of the
    same two-level aggregation, so the corpus text is exploded exactly
    ONCE per run and the observed s1 subtree stays single-traversal —
    no second shingle pipeline, no id join. All stage rows (s1 rider,
    s2, s3) ride
    that one write job as :class:`pyspark.sql.Observation` metrics
    and the commit is ``annotate``-d with them (Delta
    operationMetrics style), so a crash-RESUMED run — or any rerun
    over the same root — recovers every stage row from the commit log
    without re-scanning snapshots.

    ``checkpoint_root=EPHEMERAL``: durable execution on a
    self-managed per-invocation root (see :data:`EPHEMERAL`) — this is
    q118's mode; all scratch lifecycle lives HERE, not in the query.

    ``_fail_before``: test-only failpoint ('s23') raising just
    before the combined commit — the crash-resume test's hook.

    Reference anchor: the reference's staged clean->dedup->store DAG
    (``dags/scraping_etl.py:41-88``) with XCom hand-offs replaced by
    manifest-committed parquet checkpoints (SURVEY §3.1)."""
    import os
    import shutil
    import uuid

    from pyspark.sql import Observation
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from .operators import dedup as D
    from .operators.txn import ManifestTable, sweep_stale_dirs
    from .sources.tables import load_table
    from .session import prepare

    if checkpoint_root == EPHEMERAL:
        from .streaming.events import SCRATCH

        base = os.path.join(SCRATCH, "funnel")
        sweep_stale_dirs(base)  # crash leftovers only; TTL = txn default
        root = os.path.join(base, uuid.uuid4().hex[:12])
        try:
            rows_df = run_funnel(
                spark, sf_dir, checkpoint_root=root, _fail_before=_fail_before
            )
            # materialize BEFORE deleting the root: the returned frame
            # must never depend on files the cleanup removes
            rows = rows_df.collect()
            return spark.createDataFrame(rows, rows_df.schema)
        finally:
            shutil.rmtree(root, ignore_errors=True)

    prepare(spark)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source", "n_chars"
    )

    durable = checkpoint_root is not None
    #: stage name -> (docs_out, chars_out) observed on the commit job
    observed: dict[str, tuple[int, int]] = {}

    def _metrics():
        return (
            F.count(F.lit(1)).alias("docs_out"),
            F.sum("n_chars").alias("chars_out"),
        )

    def _harvest(obs):
        got = obs.get  # the commit's write job already ran: no action
        return (int(got["docs_out"]), int(got["chars_out"] or 0))

    # -- stage 1: quality rules (q108's predicate) + contamination --------
    # r8 rewrite: ONE shingle pipeline instead of two. The 2- and
    # 3-gram statistics previously ran two separate explode ->
    # groupBy(doc,s) -> groupBy(doc) pipelines and joined both (with
    # the full text column riding the join shuffles). Here a single
    # position explode emits each position's 2-gram AND 3-gram,
    # stack() tags them with k, one two-level aggregation computes
    # both per-doc stats, and only the surviving doc_ids join back to
    # the docs (text never enters an aggregation shuffle; at runtime
    # AQE broadcasts the tiny survivor side). Same explode idiom as
    # operators/dedup.py:145 — index generator first, flat
    # slice/concat_ws, no nested HOFs.
    #
    # r9 (VERDICT r8 item 5, second lever): the decontamination
    # membership test rides the SAME explode. Each position also
    # projects its 4-gram, a broadcast left join against the (small by
    # construction) distinct bench-shingle set marks contaminated
    # positions map-side, and per-doc `cont` falls out of the
    # two-level aggregation as one extra max() — the second
    # full-corpus explode the old cont_ids() pipeline ran is gone.
    # Candidate 4-gram windows always have exactly 4 tokens, so a
    # short bench doc's degenerate (<4-token) shingle can never match
    # one — identical membership to the old two-pipeline form for
    # every doc that can survive quality (n >= QR_MIN_TOK).
    def _bench_shingles():
        # distinct 4-shingles of the bench slice (doc_id % 37): 1/37th
        # of the corpus — a benchmark suite is SMALL relative to a
        # training corpus by construction — so it broadcasts; at 100 TB
        # this is the only viable shape (corpus side stays pipelined
        # into the scan, nothing corpus-sized shuffles for membership).
        return (
            D.shingle_relation(
                docs.filter(F.col("doc_id") % 37 == 0), "doc_id", "text", k=4
            )
            .select(F.col("s").alias("__bs"))
            .distinct()
        )

    def build_s1():
        toks = F.split(F.col("text"), " ")
        qdocs = docs.filter(F.size(toks) >= 4)
        nt = F.size(toks).cast("long")
        mwl = F.round(
            (F.length("text") - (nt - 1)) / nt.cast("double"), 4
        )
        # scale-adaptive repartition (r16): one small parquet file
        # would serialize the explode, but at corpus scale the scan is
        # already parallel — see operators/dedup.py::spread_small_input
        base = D.spread_small_input(
            qdocs.select(
                "doc_id", nt.alias("n"), mwl.alias("mwl"),
                F.split(F.col("text"), " ").alias("t"),
            ),
            "doc_id",
        )
        grams = base.select(
            "doc_id", "n", "mwl",
            F.explode(
                F.sequence(F.lit(1), F.size("t") - F.lit(1))
            ).alias("i"),
            "t",
        ).select(
            "doc_id", "n", "mwl",
            F.concat_ws(" ", F.slice("t", F.col("i"), 2)).alias("s2"),
            F.when(
                F.col("i") <= F.size("t") - F.lit(2),
                F.concat_ws(" ", F.slice("t", F.col("i"), 3)),
            ).alias("s3"),  # last position has no 3-gram
            F.when(
                F.col("i") <= F.size("t") - F.lit(3),
                F.concat_ws(" ", F.slice("t", F.col("i"), 4)),
            ).alias("s4"),  # contamination probe (exactly-4-token window)
        )
        # map-side contamination mark: broadcast hash join, no shuffle
        marked = grams.join(
            F.broadcast(_bench_shingles()),
            grams["s4"] == F.col("__bs"),
            "left",
        ).withColumn("__cont", F.col("__bs").isNotNull())
        counts = (
            marked.selectExpr(
                "doc_id", "n", "mwl", "__cont",
                "stack(2, 2, s2, 3, s3) as (k, s)",
            )
            .filter(F.col("s").isNotNull())
            .groupBy("doc_id", "n", "mwl", "k", "s")
            .agg(
                F.count(F.lit(1)).alias("count"),
                F.max("__cont").alias("c1"),
            )
        )
        keep = (
            counts.groupBy("doc_id", "n", "mwl")
            .agg(
                F.max(
                    F.when(F.col("k") == 2, F.col("count"))
                ).alias("max_c"),
                F.coalesce(
                    F.sum(
                        F.when(
                            (F.col("k") == 3) & (F.col("count") >= 2),
                            F.col("count"),
                        )
                    ),
                    F.lit(0),
                ).alias("dup_c"),
                F.max("c1").alias("cont"),
            )
            .filter(
                F.col("n").between(QR_MIN_TOK, QR_MAX_TOK)
                & F.col("mwl").between(QR_MIN_MWL, QR_MAX_MWL)
                & (
                    F.col("max_c") / (F.col("n") - 1).cast("double")
                    < QR_MAX_TBF
                )
                & (
                    F.col("dup_c") / (F.col("n") - 2).cast("double")
                    < QR_MAX_DTF
                )
            )
            .select("doc_id", "cont")
        )
        return qdocs.select("doc_id", "text", "source", "n_chars").join(
            keep, "doc_id"
        )

    # -- stages 1+2+3 as ONE durable commit (VERDICT r8 item 5) -----------
    # The dedup set carries a `keep3` decontamination flag instead of a
    # second written table: one write job, |s2| rows written (previously
    # two sequential commits writing |s2| + |s3| rows — the measured
    # q118 floor). The min_by first-wins (operators/dedup.py:34)
    # traverses s1 exactly once, so the quality stage's funnel row
    # rides the same write job as an Observation on the s1 subtree;
    # the s2 AND s3 rows come from one Observation on the committed
    # frame (conditional aggregates over the flag). In-memory mode
    # keeps the reference shape: persist s1, lazy semi-join s2.
    if durable:
        tbl = ManifestTable(os.path.join(checkpoint_root, "s23"))
        if not tbl.exists():
            if _fail_before == "s23":
                raise RuntimeError("injected crash before s23 commit")
            obs_s1 = Observation(f"funnel_s1_{uuid.uuid4().hex[:8]}")
            s1df = build_s1().observe(obs_s1, *_metrics())
            # checkpoint at ID level (r9): the dedup must group by text,
            # but the committed intermediate carries only ids + metadata
            # — at 100 TB a funnel stage never rewrites the corpus text
            # (it stays in the immutable base table, re-joinable by
            # doc_id); locally this cuts the write from the full text
            # column to a few longs per row.
            s2df = D.first_wins(s1df, ["text"], ["doc_id"]).select(
                "doc_id", "source", "n_chars", "cont"
            )
            # the cont flag arrived with the row (same explode as the
            # quality stats) — no second corpus pass, no join
            flagged = s2df.withColumn(
                "keep3", (F.col("doc_id") % 37 != 0) & ~F.col("cont")
            ).drop("cont")
            # stage 4 rides the SAME write job (r10): the per-domain
            # cap is a running count of keep3 rows per source ordered
            # by doc_id (doc_id is unique, so the running count at a
            # keep3 row IS its row_number within the keep3 subset) —
            # one extra id-width window inside the job, and the whole
            # funnel needs ZERO post-commit actions: all five rows are
            # literals recovered from Observations / the commit log.
            w4 = (
                W.partitionBy("source")
                .orderBy("doc_id")
                .rowsBetween(W.unboundedPreceding, W.currentRow)
            )
            flagged = flagged.withColumn(
                "keep4",
                F.col("keep3")
                & (
                    F.sum(
                        F.when(F.col("keep3"), 1).otherwise(0)
                    ).over(w4)
                    <= DOMAIN_CAP
                ),
            )
            obs23 = Observation(f"funnel_s23_{uuid.uuid4().hex[:8]}")
            out = flagged.observe(
                obs23,
                F.count(F.lit(1)).alias("s2_docs"),
                F.sum("n_chars").alias("s2_chars"),
                F.count(F.when(F.col("keep3"), 1)).alias("s3_docs"),
                F.sum(
                    F.when(F.col("keep3"), F.col("n_chars"))
                ).alias("s3_chars"),
                F.count(F.when(F.col("keep4"), 1)).alias("s4_docs"),
                F.sum(
                    F.when(F.col("keep4"), F.col("n_chars"))
                ).alias("s4_chars"),
            )
            ver = tbl.commit(out)
            got = obs23.get
            observed["s1"] = _harvest(obs_s1)
            observed["s2"] = (int(got["s2_docs"]), int(got["s2_chars"] or 0))
            observed["s3"] = (int(got["s3_docs"]), int(got["s3_chars"] or 0))
            observed["s4"] = (int(got["s4_docs"]), int(got["s4_chars"] or 0))
            tbl.annotate(
                ver,
                stages={
                    st: list(observed[st]) for st in ("s1", "s2", "s3", "s4")
                },
            )
        else:  # resume/rerun: stage rows from the commit's annotation
            stages = tbl.commit_meta(tbl.version()).get("stages", {})
            for st, pair in stages.items():
                observed[st] = (int(pair[0]), int(pair[1]))
        committed = tbl.read(spark)
        s1 = None  # funnel row comes from the rider / commit meta
        flags = [c for c in ("keep3", "keep4") if c in committed.columns]
        s2 = committed.drop(*flags)
        s3 = committed.filter(F.col("keep3")).drop(*flags)
    else:
        s1 = build_s1().persist(StorageLevel.MEMORY_AND_DISK)
        keep_ids = (
            s1.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id")
        )
        s2 = s1.join(keep_ids, "doc_id", "left_semi")
        s3 = (
            s2.filter((F.col("doc_id") % 37 != 0) & ~F.col("cont"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )

    # -- stage 4: per-domain caps ------------------------------------------
    # durable mode observed this on the commit job (keep4); this lazy
    # window over s3 is the in-memory form and the fallback for a
    # resume whose commit predates the keep4 column / lost annotation
    def s4():
        rn = F.row_number().over(W.partitionBy("source").orderBy("doc_id"))
        return s3.withColumn("rn", rn).filter(F.col("rn") <= DOMAIN_CAP)

    _FUNNEL_SCHEMA = (
        "stage string, stage_idx long, docs_out long, chars_out long"
    )

    def stage(df, label, idx, name=None):
        if name in observed:
            # harvested from the stage's own commit job — a literal
            # row, no snapshot re-read. Returned as a (label, idx, n,
            # c) TUPLE, not a one-row plan: the caller folds all
            # literal stages into ONE local relation (4 fewer per-run
            # plan constructions + unions on the driver).
            n, c = observed[name]
            return (label, int(idx), int(n), int(c))
        if callable(df):
            # deferred build (ADVICE r8): the s1 fallback plan is only
            # constructed when the harvested/annotated row is actually
            # missing (a resume whose commit lost its annotation) —
            # driver-side plan construction is ~0.6 s of the q118 floor
            df = df()
        return df.agg(
            F.lit(label).alias("stage"),
            F.lit(idx).cast("long").alias("stage_idx"),
            F.count("*").cast("long").alias("docs_out"),
            F.sum("n_chars").cast("long").alias("chars_out"),
        ).select("stage", "stage_idx", "docs_out", "chars_out")

    parts = [
        # the corpus is scanned on every run, so a rewritten corpus
        # reports its own counts
        stage(docs, "0_ingest", 0),
        stage(s1 if s1 is not None else build_s1, "1_quality", 1, name="s1"),
        stage(s2, "2_exact_dedup", 2, name="s2"),
        stage(s3, "3_decontaminate", 3, name="s3"),
        stage(s4, "4_domain_cap", 4, name="s4"),
    ]
    lits = [p for p in parts if isinstance(p, tuple)]
    frames = [p for p in parts if not isinstance(p, tuple)]
    if lits:
        frames.insert(0, spark.createDataFrame(lits, _FUNNEL_SCHEMA))
    funnel = frames[0]
    for fr in frames[1:]:
        funnel = funnel.unionByName(fr)
    if durable:
        # lazy over committed snapshots — durable intermediates carry
        # the plan; nothing to unpersist
        return funnel
    # in-memory mode: one eager action for all five rows, then release
    # the stage sets explicitly — self-contained, no clearCache needed
    rows = funnel.collect()
    s1.unpersist()
    s3.unpersist()
    return spark.createDataFrame(rows, funnel.schema)
