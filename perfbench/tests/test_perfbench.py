"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench/tests -q

The end-to-end cases run ``perfbench/run.py`` at ``--size tiny`` in a
subprocess, so each costs one Spark start-up (~20 s on a 4-core host).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for root, dirs, files in sorted(os.walk(path)):
        dirs.sort()
        for f in sorted(files):
            h.update(os.path.relpath(os.path.join(root, f), path).encode())
            with open(os.path.join(root, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _generate(tmp, seed: int) -> str:
    out = str(tmp / f"seed{seed}")
    etl = gen.EtlInputs(seed, 500, max_batches=3)
    etl.write_detail(os.path.join(out, "detail"))
    for b in range(3):
        etl.next_batch(os.path.join(out, f"batch{b}"))
    gen.write_curation(os.path.join(out, "cur"), seed, 200, 100, 10)
    gen.write_query_mix(os.path.join(out, "qm"), seed, 1000, tpch_orders=300)
    return out


def test_generator_deterministic_per_seed(tmp_path):
    a = _digest(_generate(tmp_path / "a", 7))
    b = _digest(_generate(tmp_path / "b", 7))
    c = _digest(_generate(tmp_path / "c", 8))
    assert a == b
    assert a != c


def test_request_schedule_keeps_the_mix():
    n = workloads.QueryMix.BLOCK
    per_kind = workloads.QueryMix.PER_KIND
    kinds = gen.request_kinds(3, 4 * n, per_kind)
    assert kinds == gen.request_kinds(3, 4 * n, per_kind)
    assert kinds != gen.request_kinds(4, 4 * n, per_kind)
    for i in range(0, 4 * n, n):
        block = kinds[i : i + n]
        assert (block.count("point"), block.count("range"), block.count("analytic")) == (
            per_kind, per_kind, per_kind)
    # every block runs each analytic query once
    assert block.count("analytic") == len(workloads.QueryMix.ANALYTIC)


def test_benchmark_json_names():
    spec = _spec()
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.fullmatch(n) for n in names)
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_tiny_run_passes_and_prints_declared_metrics(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "5", "--seconds", "1",
             "--trace", str(trace), "--size", "tiny")
    assert p.returncode == 0, p.stdout[-2000:] + p.stderr[-4000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    spec = _spec()
    declared = spec["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float)) and got["value"] > 0
    printed = dict(re.findall(r"^# metric (\S+) = (\S+) ", p.stdout, re.M))
    assert printed and all(NAME.fullmatch(n) for n in printed)
    if workload == "query_mix" and trace:
        # the re-clustered table lets both indexes skip files
        assert float(printed["operators.txn.read_point.files_kept_ratio"]) < 1
        assert float(printed["sources.manifest_datasource.files_kept_ratio"]) < 1


def test_fails_without_a_result_outside_a_checkout(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(str(tmp_path), "--workload", "query_mix", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


# -- the checks catch corrupted outputs --------------------------------------


def test_curation_check_catches_missing_and_wrong_pairs(tmp_path):
    wl = workloads.CurationDedup(str(tmp_path), 3, "tiny")
    wl.truth = gen.write_curation(str(tmp_path), 3, 400, 200, 20)
    wl.reset()
    t = wl.truth
    pairs = [{"id_a": a, "id_b": b, "jaccard": gen.jaccard(t.texts[a], t.texts[b])}
             for a, b in sorted(t.planted_pairs)]
    top = [{"query_id": q, "neighbor_id": n} for q, ns in t.exact_top10.items() for n in ns]
    assert wl._check(pairs, top, len(pairs))
    assert not wl._check(pairs[: len(pairs) // 2], top, len(pairs))
    wrong = [dict(pairs[0], jaccard=pairs[0]["jaccard"] - 0.01)] + pairs[1:]
    assert not wl._check(wrong, top, len(pairs))
    assert not wl._check(pairs, top[: len(top) // 3], len(pairs))


def test_oracle_check_catches_a_wrong_or_missing_analytic_result(tmp_path):
    import duckdb

    from datapipeline_scraping_spark.queries import REGISTRY

    wl = workloads.QueryMix(str(tmp_path), 3, "tiny")
    wl.inputs = gen.write_query_mix(str(tmp_path), 3, 1000, tpch_orders=300)
    con = duckdb.connect()
    for t in ("customer", "orders", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{wl.inputs.sf_dir}/{t}.parquet'")
    good = {}
    for name in wl.ANALYTIC:
        res = con.execute(REGISTRY[name].oracle)
        good[name] = ([d[0] for d in res.description], res.fetchall())
    con.close()
    wl.first_result = dict(good)
    assert wl._oracle_check()
    cols, rows = good["q01_pricing_summary"]
    bad = [rows[0][:-1] + (rows[0][-1] + 1,)] + rows[1:]
    wl.first_result["q01_pricing_summary"] = (cols, bad)
    assert not wl._oracle_check()
    wl.first_result = dict(good)
    del wl.first_result[wl.ANALYTIC[-1]]
    assert not wl._oracle_check()


def test_etl_final_check_catches_a_corrupted_table(tmp_path):
    from datapipeline_scraping_spark.operators.txn import ManifestTable
    from datapipeline_scraping_spark.session import build_spark
    from pyspark.sql import functions as F

    from spans import Tracer

    spark = build_spark(app_name="perfbench-test", master="local[2]", shuffle_partitions=2,
                        extra_conf={"spark.driver.memory": "1g"})
    try:
        wl = workloads.EtlIncremental(str(tmp_path), 4, "tiny")
        wl.generate()
        wl.setup(spark)
        items, ok = wl.op(spark, Tracer(False))
        assert ok and items > 0
        assert wl.finish(spark, Tracer(False))[0]
        tbl = ManifestTable(wl.root)
        key = tbl.read(spark).first()["lookup_key"]
        corrupted = tbl.read(spark).withColumn(
            "row_hash",
            F.when(F.col("lookup_key") == key, F.lit("0" * 32)).otherwise(F.col("row_hash")),
        ).localCheckpoint()
        tbl.commit(corrupted)
        assert not wl.finish(spark, Tracer(False))[0]
    finally:
        spark.stop()
