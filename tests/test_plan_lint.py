"""Whole-registry physical-plan lint.

Every one of the registry's queries is planned (not executed) at the
smoke scale factor and its executed-plan string is linted against the
engine's scale contract (SCALE.md):

1. ``CartesianProduct`` never appears — an unconstrained cross product
   is never an acceptable physical strategy at 100 TB.
2. ``BroadcastNestedLoopJoin`` appears only on an explicit allowlist,
   each entry with a reason: either a documented exact/ground-truth
   kernel (all-pairs by definition, never the production route) or a
   non-equi join whose build side is provably tiny (scalar aggregates,
   centroid tables, query vectors).
3. Python evaluation nodes appear only at the declared Arrow seams
   (LLM classify, HTML parse, media decode, GEMM kernel, UDAF/UDTF/
   cogroup demos). Row-at-a-time ``BatchEvalPython`` is banned except
   for Spark 4's UDTF evaluator, which is row-based by design and only
   used by the UDTF demo query.
4. Queries that join a small dimension must plan it as a
   ``BroadcastHashJoin`` — the dim side must never shuffle the fact.
5. Pruned manifest reads go through ``predicate_view``: their plans
   scan parquet natively and hold no Python data-source scan.

This turns the per-query plan spot checks in test_scale_ops.py into a
CI-enforced property of the entire query surface: a regression that
slips a cross product, a row-Python UDF, or a shuffled dim join into
ANY query fails this file with the offending plan fragment.
"""

from __future__ import annotations

import pytest

from datapipeline_scraping_spark.queries import REGISTRY

from conftest import SF_SMOKE

# --- allowlists (each entry = query -> reason) -----------------------------

# Nested-loop joins whose build side is tiny by construction, or which
# ARE the documented brute-force kernels (labeled non-production).
NESTED_LOOP_ALLOW = {
    "q21_cosine_topk": "exact ANN ground-truth kernel (documented all-pairs)",
    "q42_range_join": "non-equi interval join; broadcast side is the small range table",
    "q51_embedding_neardup": "exact GEMM block-pair kernel (documented all-pairs)",
    "q53_tfidf_topterms": "scalar doc-count literal joined as 1-row broadcast",
    "q75_kmeans_ivf_topk": "MLlib KMeans centroid probe; k-row broadcast",
    "q94_ann_recall": "recomputes the exact ground truth to measure recall",
    "q96_bm25_search": "query-term list (a handful of rows) crossed with stats",
    "q125_sales_opportunity": "scalar balance-stats row (1-row broadcast gate)",
    "q130_important_stock": "scalar nation-total row (1-row broadcast gate)",
    "q134_semantic_dedup": "centroid assignment; broadcast side is k centroids",
    "q148_length_buckets": "scalar corpus-total row (1-row broadcast gate)",
    "q174_ivf_sq8_topk": "centroid assignment + SQ8 params: broadcast sides are k centroids, the 1-row params, and the query set",
    "q177_quantized_ann_recall": "recomputes the exact ground truth + both quantized indexes to measure recall",
}

# Arrow-vectorized Python seams (MapInPandas / grouped-map / cogroup).
ARROW_SEAM_ALLOW = {
    "q27_classify_backend": "LLM classify backend (Arrow batches)",
    "q34_multimodal_meta": "media metadata decode seam",
    "q46_scrape_source": "HTTP fetch seam (1 partition per page batch)",
    "q51_embedding_neardup": "numpy GEMM per block pair",
    "q56_regr_slope_udaf": "grouped-map UDAF demo",
    "q57_multimodal_frames": "frame-sample decode seam",
    "q69_cogroup_purchase_click": "cogroup demo (applyInPandas over two sides)",
    "q102_html_details": "lenient HTML parser seam",
    "q105_blob_embed_buckets": "binary payload encoder seam",
    "q115_image_decode": "image blob synth + stdlib header decode seam",
    "q121_image_block_features": "bitmap synth + numpy block-sum kernel seam",
    "q122_audio_window_energy": "PCM synth + numpy window-energy kernel seam",
    "q145_requeue_policy": "per-source queue-policy fold (U4 scheduling seam)",
    "q146_adaptive_concurrency": "per-source queue-policy fold (F5 scheduling seam)",
}

# Row-at-a-time Python evaluation: banned, except Spark 4 evaluates
# @udtf row-wise by design and the UDTF demo query must use it.
ROW_PYTHON_ALLOW = {
    "q71_python_udtf": "Spark 4 UDTF evaluator is row-based by design",
}

# Queries whose plan must broadcast a small dimension / state table
# (fact side must not shuffle for the dim join).
MUST_BROADCAST = [
    "q12_delta_detection",
    # q53 re-pinned (r17): document frequency is a map-side-combinable
    # groupBy over the (doc,term)-unique TF table, attached back via a
    # planner-chosen broadcast join (the r16 window form concentrated
    # hot terms in one un-splittable window partition).
    "q53_tfidf_topterms",
    "q63_incremental_ledger",
    "q67_salted_join",
    "q68_sql_interface",
    "q73_scd2_history",
    "q84_volume_shipping",
    "q85_product_profit",
    "q93_token_entropy",
    "q95_incremental_dedup",
    "q98_length_outliers",
    "q106_incremental_ann",
    "q108_quality_rules",
    "q109_decontaminate",
    "q111_gap_fill",
    "q112_fuzzy_match",
    "q129_min_cost_supplier",
    "q130_important_stock",
    "q131_excess_shippers",
    "q144_supplier_diversity",
    "q173_boilerplate_removal",
    "q175_semantic_decontamination",
]

# Queries whose plan must push a per-group limit BELOW the window
# shuffle (Catalyst's WindowGroupLimit, Partial mode): a hot group then
# ships at most `cap` rows per map partition instead of all its rows.
MUST_GROUP_LIMIT = [
    "q110_domain_caps",
    "q119_paragraph_dedup",
]

# Queries reading a hive-partitioned (manifest) snapshot through a
# partition-column filter: the scan must prune (non-empty
# PartitionFilters on the FileSourceScan) — a partition-filtered read
# that lists every partition's files is a full-table scan at 100 TB.
MUST_PARTITION_PRUNE = [
    "q139_partitioned_manifest_sink",
    "q64_partitioned_sink",
]

# Queries whose OPTIMIZED plan must carry an injected runtime bloom
# filter (might_contain probe below the fact side of a selective
# shuffle join) — the conf-driven pre-shuffle prune.
MUST_RUNTIME_FILTER = [
    "q141_bloom_pruned_join",
]

# Queries joining two bucket-clustered (commit_clustered) ledger
# snapshots: the sort-merge join must consume the bucket layout — NO
# exchange upstream of the join; the only allowed exchange is the
# final aggregation's. Relocated here from q186's body (VERDICT r10
# item 7) so a Spark planner change fails CI, not a driver run.
MUST_COLOCATED_JOIN = [
    "q186_clustered_ledger_join",
    "q189_clustered_incremental_ingest",
    "q190_clustered_mor_dml",
]

# Queries reading a manifest table through a view the engine mints (a
# predicate view, or a registered table's view): the executed plan must be a native parquet scan (FileSourceScanExec) with
# no Python data-source scan (BatchScan ... (Python)), whose per-task
# Python workers the native scan replaces.
MUST_NATIVE_SCAN = [
    "q187_sql_dml_ledger",
    "q193_clustered_sql_prune",
    "q197_bloom_point_lookup",
    "q198_nullcount_skipping",
    "q200_like_prefix_skipping",
    "q201_not_in_exclusion",
]

ARROW_NODES = (
    "ArrowEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "MapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "AggregateInPandas",
    "PythonMapInArrow",
)


def _plan(spark, name: str) -> tuple[str, str]:
    df = REGISTRY[name].fn(spark, SF_SMOKE)
    try:
        qe = df._jdf.queryExecution()
        return qe.executedPlan().toString(), qe.optimizedPlan().toString()
    finally:
        spark.catalog.clearCache()


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_plan_lint(spark, name):
    plan, optimized = _plan(spark, name)

    assert "CartesianProduct" not in plan, (
        f"{name}: CartesianProduct in physical plan — "
        f"unconstrained cross product is never scale-safe:\n{plan[:2000]}"
    )

    if "BroadcastNestedLoopJoin" in plan:
        assert name in NESTED_LOOP_ALLOW, (
            f"{name}: BroadcastNestedLoopJoin outside the allowlist — "
            f"either make the join an equi/bucket join or add an "
            f"allowlist entry with a tiny-build-side reason:\n{plan[:2000]}"
        )

    if any(node in plan for node in ARROW_NODES):
        assert name in ARROW_SEAM_ALLOW, (
            f"{name}: Arrow Python-eval node outside the declared seams — "
            f"hot-path logic must stay JVM-side:\n{plan[:2000]}"
        )

    if "BatchEvalPython" in plan:
        assert name in ROW_PYTHON_ALLOW, (
            f"{name}: row-at-a-time BatchEvalPython — use built-in "
            f"functions or a pandas UDF:\n{plan[:2000]}"
        )

    if name in MUST_BROADCAST:
        assert "BroadcastHashJoin" in plan, (
            f"{name}: expected the small dim/state side to broadcast; "
            f"plan has no BroadcastHashJoin:\n{plan[:2000]}"
        )

    if name in MUST_GROUP_LIMIT:
        assert "WindowGroupLimit" in plan and "Partial" in plan, (
            f"{name}: expected a map-side (Partial) WindowGroupLimit "
            f"below the window shuffle — the rn<=cap filter must sit "
            f"directly on the row_number so Catalyst can push the "
            f"per-group limit:\n{plan[:2000]}"
        )

    if name in MUST_PARTITION_PRUNE:
        import re as _re

        pf = _re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert pf and any(f.strip() for f in pf), (
            f"{name}: expected a non-empty PartitionFilters on the "
            f"partitioned scan — the partition-column filter did not "
            f"prune:\n{plan[:2000]}"
        )

    if name in MUST_RUNTIME_FILTER:
        assert "might_contain" in optimized or "bloom_filter" in optimized, (
            f"{name}: expected an injected runtime bloom filter "
            f"(might_contain below the fact side) in the optimized "
            f"plan:\n{optimized[:2000]}"
        )

    if name in MUST_NATIVE_SCAN:
        import re as _re

        assert "FileScan parquet" in plan and not _re.search(
            r"BatchScan \S+\[[^\]]*\] \(Python\)", plan
        ), (
            f"{name}: expected a native parquet scan of the engine-minted "
            f"view's files and no Python data-source scan:\n{plan[:2000]}"
        )

    if name in MUST_COLOCATED_JOIN:
        assert "SortMergeJoin" in plan, (
            f"{name}: expected a SortMergeJoin over the bucketed "
            f"scans:\n{plan[:2000]}"
        )
        assert plan.count("Exchange") == 1, (
            f"{name}: a clustered ledger join must not shuffle its "
            f"join inputs (only the final aggregation may exchange):\n"
            f"{plan[:2000]}"
        )
