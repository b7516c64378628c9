"""Curation-funnel execution-mode tests (curation.py::run_funnel) —
VERDICT r6 item 5 / r8 item 5: the funnel must be green both in-memory
and manifest-checkpointed; durable mode makes ONE combined commit (the
dedup set with a `keep3` decontamination flag) whose annotation carries
every stage row, and a rerun/crash-resume over the same root recovers
the rows from the commit log instead of recomputing."""

from __future__ import annotations

import os

import pytest

from datapipeline_scraping_spark.curation import run_funnel
from datapipeline_scraping_spark.operators.txn import ManifestTable

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(
        (r["stage"], r["stage_idx"], r["docs_out"], r["chars_out"])
        for r in df.collect()
    )


@pytest.mark.slow  # r17 tiering: measured 11s; full (evidence) tier only
def test_in_memory_and_checkpointed_modes_agree(spark, tmp_path):
    mem = _rows(run_funnel(spark, SF))
    dur = _rows(run_funnel(spark, SF, checkpoint_root=str(tmp_path / "ck")))
    assert mem == dur
    assert len(mem) == 5
    # durable mode made ONE combined commit (r9: s2 + keep3 flag —
    # previously two sequential stage commits; r10: + keep4, so the
    # domain-cap row rides the same job); its annotation carries the
    # s1/s2/s3/s4 rows (resume source)
    tbl = ManifestTable(str(tmp_path / "ck" / "s23"))
    assert tbl.exists() and tbl.version() == 1
    stages = tbl.commit_meta(1).get("stages", {})
    assert set(stages) == {"s1", "s2", "s3", "s4"}
    assert "keep3" in tbl.read(spark).columns


def test_in_memory_mode_leaves_no_cached_frames(spark):
    """The in-memory mode must unpersist its stage sets itself — no
    reliance on the driver's clearCache between queries."""
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc.sc()
    # delta-based: an earlier test in the same session may legitimately
    # hold RDD-level persists (e.g. a localCheckpoint) that
    # clearCache() does not drop — the funnel must just not ADD any
    before = jsc.getPersistentRDDs().size()
    df = run_funnel(spark, SF)
    assert df.count() == 5
    assert jsc.getPersistentRDDs().size() <= before


def test_crash_before_commit_then_resume(spark, tmp_path):
    root = str(tmp_path / "ck")
    # crash before the combined commit: nothing durable exists yet
    with pytest.raises(RuntimeError, match="injected crash"):
        run_funnel(spark, SF, checkpoint_root=root, _fail_before="s23")
    tbl = ManifestTable(os.path.join(root, "s23"))
    assert not tbl.exists()
    # resume from nothing completes and matches the clean run
    got = _rows(run_funnel(spark, SF, checkpoint_root=root))
    assert tbl.exists() and tbl.version() == 1
    assert got == _rows(run_funnel(spark, SF))


def test_rerun_recovers_rows_from_annotation_without_recommit(spark, tmp_path):
    """A rerun over an already-committed root must not recompute or
    recommit: the stage rows come from the commit's annotation and the
    table version stays 1."""
    root = str(tmp_path / "ck")
    first = _rows(run_funnel(spark, SF, checkpoint_root=root))
    tbl = ManifestTable(os.path.join(root, "s23"))
    assert tbl.version() == 1
    again = _rows(run_funnel(spark, SF, checkpoint_root=root))
    assert again == first
    assert tbl.version() == 1  # reused, not recommitted


def test_resume_survives_lost_annotation(spark, tmp_path):
    """If the commit's annotation is missing (e.g. a crash between
    commit and annotate), the resumed run falls back to recomputing
    the stage rows from the committed snapshot / the s1 plan — same
    five rows, still version 1."""
    root = str(tmp_path / "ck")
    clean = _rows(run_funnel(spark, SF, checkpoint_root=root))
    tbl = ManifestTable(os.path.join(root, "s23"))
    # strip the annotation the resume path would normally use
    p = tbl._log_path(1)
    import json

    with open(p) as fh:
        entry = json.load(fh)
    entry.pop("meta", None)
    with open(p, "w") as fh:
        json.dump(entry, fh)
    got = _rows(run_funnel(spark, SF, checkpoint_root=root))
    assert got == clean
    assert tbl.version() == 1


def test_q118_follows_a_corpus_rewritten_at_the_same_path(spark, tmp_path):
    """Nothing about a corpus is remembered across funnel runs: after
    ``documents`` is rewritten at the same path, q118's ingest and
    quality rows equal the DuckDB oracle's over the NEW corpus."""
    import duckdb
    import pyarrow.parquet as pq

    from datapipeline_scraping_spark.queries import REGISTRY

    q118 = REGISTRY["q118_curation_funnel"]
    full = pq.read_table(f"{SF}/documents.parquet")
    path = tmp_path / "documents.parquet"

    def oracle():
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
            return sorted(con.execute(q118.oracle).fetchall())
        finally:
            con.close()

    seen = []
    for corpus in (full, full.slice(0, full.num_rows // 2)):
        pq.write_table(corpus, path)
        got = _rows(q118.fn(spark, str(tmp_path)))
        want = oracle()
        assert got == want
        ingest, quality = got[0], got[1]
        assert ingest[:3] == ("0_ingest", 0, corpus.num_rows)
        assert quality[:2] == ("1_quality", 1)
        seen.append((ingest, quality))
    assert seen[0][0] != seen[1][0] and seen[0][1] != seen[1][1]
