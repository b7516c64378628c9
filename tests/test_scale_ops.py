"""Unit tests for the scale-tier operators: as-of join boundary
semantics, tf-idf ranking, IVF probe behavior, frame fan-out, and the
bucketed-join plan shape."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from datapipeline_scraping_spark.operators.asof import asof_join
from datapipeline_scraping_spark.operators.text import tfidf_topk
from tests.conftest import SF_SMOKE


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def test_asof_boundary_and_missing(spark):
    """<= boundary: a right row at exactly left.ts matches; a left row
    before any right row gets nulls; matches never look forward."""
    left = spark.createDataFrame(
        [
            (1, _ts("2024-01-01T00:00:00"), "early"),   # before any click
            (1, _ts("2024-01-01T10:00:00"), "exact"),   # == right ts
            (1, _ts("2024-01-01T11:00:00"), "after"),
            (2, _ts("2024-01-01T05:00:00"), "otherkey"),
        ],
        "key long, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [
            (1, _ts("2024-01-01T10:00:00"), 100),
            (1, _ts("2024-01-01T10:30:00"), 101),
            (2, _ts("2024-01-01T09:00:00"), 200),  # after key-2 left row
        ],
        "key long, ts timestamp, val long",
    )
    out = {
        r["tag"]: r["asof_val"]
        for r in asof_join(
            left, right, key="key", ts="ts", right_cols=["val"]
        ).collect()
    }
    assert out == {"early": None, "exact": 100, "after": 101, "otherkey": None}


def test_tfidf_rare_term_outranks_common(spark):
    df = spark.createDataFrame(
        [(1, "common rare common"), (2, "common common"), (3, "common other")],
        "doc_id long, text string",
    )
    out = tfidf_topk(df, "doc_id", "text", top=1).collect()
    top = {r["doc_id"]: r["term"] for r in out}
    # 'rare' (df=1) must beat 'common' (df=3) for doc 1 despite tf 1 < 2
    assert top[1] == "rare"
    assert out[0]["rank"] == 1


def test_ivf_probes_restrict_candidates(spark):
    """With nprobe < n_centroids, neighbors must come only from probed
    lists (approximation is structural, not a bug)."""
    from datapipeline_scraping_spark.operators.similarity import ivf_assign, as_double

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    cent = emb.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("cid"), as_double("embedding").alias("cv")
    )
    corp = emb.select("vec_id", as_double("embedding").alias("v"))
    assigned = ivf_assign(corp, cent, "vec_id", "v")
    # every vector lands in exactly one list
    assert assigned.count() == emb.count()
    assert assigned.select("vec_id").distinct().count() == emb.count()


def test_frame_fanout_counts(spark):
    from datapipeline_scraping_spark.operators.multimodal import (
        attach_blob,
        sample_frames,
    )

    docs = spark.createDataFrame(
        [(1, "abcdefghij"), (2, "abc")], "doc_id long, text string"
    )
    out = sample_frames(attach_blob(docs, "doc_id", "text"), "doc_id").collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # len 10 -> 10 % 5 + 1 = 1 frame; len 3 -> 3 % 5 + 1 = 4 frames
    assert len(by_doc[1]) == 1
    assert len(by_doc[2]) == 4
    # offsets evenly strided by n // n_frames
    assert [r["frame_offset"] for r in sorted(by_doc[2], key=lambda r: r["frame_idx"])] == [
        0,
        0,
        0,
        0,
    ]  # 3 // 4 == 0 stride


def test_bucketed_join_plan_has_no_extra_exchange(spark):
    from datapipeline_scraping_spark.queries import REGISTRY

    df = REGISTRY["q62_bucketed_join"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    # the only exchange is the final groupBy aggregation; the join
    # itself reads pre-bucketed, pre-sorted tables
    assert plan.count("Exchange") == 1
    assert plan.count("Sort (") == 0


def test_partitioned_sink_scan_is_pruned(spark):
    from datapipeline_scraping_spark.queries import REGISTRY

    df = REGISTRY["q64_partitioned_sink"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(event_type" in plan
    assert "event_type" in plan.split("PartitionFilters")[1][:120]


def test_incremental_ledger_two_rounds(spark):
    """Round 2 must classify unseen keys as new and mutated-content
    keys as changed — the H2 semantics across a persisted ledger."""
    from datapipeline_scraping_spark.queries import REGISTRY

    rows = {
        r["change_type"]: r["n_rows"]
        for r in REGISTRY["q63_incremental_ledger"].fn(spark, SF_SMOKE).collect()
    }
    assert set(rows) == {"new", "changed"}
    assert rows["new"] > 0 and rows["changed"] > 0


def test_delta_state_probe_broadcasts(spark):
    """H5: the small ledger side of the delta anti-join must be planned
    as a broadcast hash join (SCALE.md's claim for q12)."""
    from datapipeline_scraping_spark.queries import REGISTRY

    df = REGISTRY["q12_delta_detection"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_cli_list_and_oracle():
    import subprocess
    import sys

    out = subprocess.run(
        [sys.executable, "-m", "datapipeline_scraping_spark", "list"],
        capture_output=True, text=True, cwd="/root/repo", timeout=120,
    )
    assert out.returncode == 0
    assert "q01_pricing_summary" in out.stdout
    out = subprocess.run(
        [sys.executable, "-m", "datapipeline_scraping_spark", "oracle",
         "q01_pricing_summary"],
        capture_output=True, text=True, cwd="/root/repo", timeout=120,
    )
    assert out.returncode == 0 and "SELECT" in out.stdout.upper()


def test_stratified_sample_plan_is_map_only(spark):
    """q92: hash-threshold sampling must not shuffle — membership is a
    per-row expression, so the plan has zero exchanges."""
    from datapipeline_scraping_spark.queries import REGISTRY

    df = REGISTRY["q92_stratified_sample"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_incremental_dedup_plan_has_no_cartesian(spark):
    """q95: the batch-vs-corpus probe is a (band,bucket) equi-join —
    never a cross/nested-loop product."""
    from datapipeline_scraping_spark.queries import REGISTRY

    df = REGISTRY["q95_incremental_dedup"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_length_outliers_plan_broadcasts_moments(spark):
    """q98: the per-language moment table (≤ |langs| rows) joins back
    to documents as a broadcast — no shuffle of the fact side."""
    from datapipeline_scraping_spark.queries import REGISTRY

    df = REGISTRY["q98_length_outliers"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_scrub_pii_redacts_and_counts(spark):
    from datapipeline_scraping_spark.operators.text import scrub_pii

    df = spark.createDataFrame(
        [
            (1, "mail me at a.b+c@example.org or ping 192.168.0.1 twice 10.0.0.2"),
            (2, "no pii here"),
        ],
        "id long, text string",
    )
    out = {r["id"]: r for r in scrub_pii(df, "text").collect()}
    assert out[1]["n_emails"] == 1 and out[1]["n_ips"] == 2
    assert "<EMAIL>" in out[1]["text"] and "<IP>" in out[1]["text"]
    assert "@" not in out[1]["text"] and "192.168" not in out[1]["text"]
    assert out[2]["n_emails"] == 0 and out[2]["text"] == "no pii here"


def _sql_executions(spark) -> list:
    """The SQL executions the session's status store still retains."""
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return [execs.apply(i) for i in range(execs.size())]


def _final_write_plans(spark, since: int, root: str) -> list[str]:
    """The final (post-AQE) physical plans of the file writes under
    ``root`` that ran as SQL executions with id > ``since``, read from
    the session's SQL status store — the plan each write really
    executed."""
    plans = []
    for e in _sql_executions(spark):
        desc = e.physicalPlanDescription()
        if (
            e.executionId() > since
            and "InsertIntoHadoopFsRelationCommand" in desc
            and root in desc
        ):
            if "== Final Plan ==" in desc:
                desc = desc.split("== Final Plan ==")[1]
            plans.append(desc.split("== Initial Plan ==")[0])
    return plans


def _ancestors(plan: str, marker: str) -> list[str]:
    """Node lines above every ``marker`` line of a plan tree, by
    indentation (a node's parent is the nearest line above it that
    starts left of it)."""
    lines = [ln for ln in plan.splitlines() if ln.strip()]

    def depth(ln: str) -> int:
        return next(i for i, ch in enumerate(ln) if ch.isalnum() or ch == "*")

    out = []
    for i, ln in enumerate(lines):
        if marker not in ln:
            continue
        d = depth(ln)
        for up in reversed(lines[:i]):
            if depth(up) < d:
                out.append(up.strip())
                d = depth(up)
    return out


def test_merge_write_upsert_plan_never_shuffles_the_target(spark, tmp_path):
    """A clause-free merge_write commits source ∪ (target ▷ source.pk):
    the source keys broadcast, so the executed write has no sort-merge
    join and no Exchange anywhere above the target scan."""
    from datapipeline_scraping_spark.operators.txn import ManifestTable, merge_write

    tbl = ManifestTable(str(tmp_path / "t"))
    tbl.commit(spark.range(5000).selectExpr("id AS pk", "id * 2 AS v").repartition(3))
    # the store evicts old executions: take the newest id, not a count
    since = max((e.executionId() for e in _sql_executions(spark)), default=-1)
    src = spark.range(4000, 4600).selectExpr("id AS pk", "id * 3 AS v")
    merge_write(spark, tbl.root, src, "pk", writer="manifest")
    (plan,) = _final_write_plans(spark, since, tbl.root)
    assert "Scan parquet" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    above = _ancestors(plan, "Scan parquet")
    assert above and not any("Exchange" in ln for ln in above), plan
    assert any("BroadcastHashJoin LeftAnti" in ln for ln in above), plan
    assert tbl.read(spark).count() == 5000


def test_sql_merge_plan_follows_the_clause_shape(spark, tmp_path):
    """SQL MERGE shares merge_write's planner: UPDATE SET * plus
    INSERT * commits the broadcast anti-join upsert (no sort-merge or
    full-outer join over the target); a conditional clause still
    commits merge_into's full-outer join."""
    from datapipeline_scraping_spark.operators.txn import ManifestTable
    from datapipeline_scraping_spark.sources.manifest_sql import register_table, sql

    tbl = ManifestTable(str(tmp_path / "t"))
    tbl.commit(spark.range(5000).selectExpr("id AS pk", "id * 2 AS v").repartition(3))
    register_table(spark, "plan_tgt", tbl.root, key_cols=["pk"])
    spark.range(4000, 4600).selectExpr("id AS pk", "id * 3 AS v").createOrReplaceTempView(
        "plan_src"
    )
    head = "MERGE INTO plan_tgt AS t USING plan_src AS s ON t.pk = s.pk "
    since = max((e.executionId() for e in _sql_executions(spark)), default=-1)
    sql(spark, head + "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    (plan,) = _final_write_plans(spark, since, tbl.root)
    assert "SortMergeJoin" not in plan and "FullOuter" not in plan, plan
    above = _ancestors(plan, "Scan parquet")
    assert any("BroadcastHashJoin LeftAnti" in ln for ln in above), plan
    assert tbl.read(spark).count() == 5000

    since = max(e.executionId() for e in _sql_executions(spark))
    sql(
        spark,
        head + "WHEN MATCHED AND s.v > 0 THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
    )
    (plan,) = _final_write_plans(spark, since, tbl.root)
    above = _ancestors(plan, "Scan parquet")
    assert any("FullOuter" in ln for ln in above), plan
    assert tbl.read(spark).count() == 5000


def test_delta_split_probes_state_without_aggregate(spark):
    """Semi/anti joins ignore probe-side multiplicity: the state side
    of delta_split carries no dedup Aggregate."""
    from datapipeline_scraping_spark.operators.delta import delta_split

    incoming = spark.range(1000).selectExpr("CAST(id AS STRING) AS k", "'h' AS row_hash")
    state = spark.range(800).selectExpr("CAST(id AS STRING) AS k", "'h' AS row_hash")
    for side in delta_split(incoming, state, "k"):
        plan = side._jdf.queryExecution().executedPlan().toString()
        assert "Aggregate" not in plan, plan


def test_merge_write_upsert_adds_no_files(spark, tmp_path):
    """10 successive upserts into a 3-file table leave at most 3 data
    files: the result is coalesced to the target's file count."""
    from datapipeline_scraping_spark.operators.txn import ManifestTable, merge_write

    tbl = ManifestTable(str(tmp_path / "t"))
    tbl.commit(spark.range(3000).selectExpr("id AS pk", "0L AS v").repartition(3))
    for b in range(1, 11):
        src = spark.range(b * 100, b * 100 + 500, numPartitions=8).selectExpr(
            "id AS pk", f"{b}L AS v"
        )
        merge_write(spark, tbl.root, src, "pk", writer="manifest")
    assert len(tbl.read(spark).inputFiles()) <= 3
    assert tbl.read(spark).count() == 3000
