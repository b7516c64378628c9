#!/usr/bin/env python
"""Driver simulator: exercises the __spark_entry__ contract exactly the
way the round driver does — a PLAIN SparkSession (none of the engine's
tuned conf), entry() smoke at sf0.001, then every queries() entry at
sf0.01 compared against oracle_sql() via DuckDB (row count + sorted
column names + order-insensitive value multiset)."""

from __future__ import annotations

import json
import math
import sys
import time
from pathlib import Path

import duckdb
from pyspark.sql import SparkSession

#: the checkout this script lives in (a second checkout must import and
#: check its own code, not another one's)
ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))
import __spark_entry__ as E  # noqa: E402

SF_CORRECT = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float) and math.isnan(v):
                v = "NaN"
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=repr)
    return out


def stale_check() -> int:
    """Fail (exit 1) if any registry query's source changed AFTER the
    newest correctness evidence row covering it (VERDICT r2 item 7:
    every query's latest evidence must postdate its last code change).

    Source time per query: the last commit touching the function's
    source range (git log -L over the def INCLUDING its @q decorator,
    so oracle edits count), plus "now" if the defining file has
    uncommitted modifications (conservative).
    Evidence time per query: the newest mtime among CORRECTNESS*.json
    files containing a row for it (driver rounds and self-runs both
    count — regenerate CORRECTNESS_SELF via --json after changes)."""
    import inspect
    import subprocess

    evidence_time: dict[str, float] = {}
    for p in sorted(ROOT.glob("CORRECTNESS*.json")):
        try:
            rows = json.loads(p.read_text())
        except (OSError, ValueError):
            continue
        mt = p.stat().st_mtime
        for name in rows:
            evidence_time[name] = max(evidence_time.get(name, 0.0), mt)

    dirty = set(
        subprocess.run(
            ["git", "diff", "--name-only", "HEAD"],
            cwd=ROOT, capture_output=True, text=True,
        ).stdout.split()
    )

    from datapipeline_scraping_spark.queries import REGISTRY

    src_cache: dict[tuple, float] = {}
    n_stale = 0
    for name, spec in REGISTRY.items():
        f = Path(inspect.getsourcefile(spec.fn))
        lines, start = inspect.getsourcelines(spec.fn)
        rel = str(f.relative_to(ROOT))
        key = (rel, start)
        if key not in src_cache:
            out = subprocess.run(
                ["git", "log", "-1", "--format=%ct",
                 f"-L{start},{start + len(lines) - 1}:{rel}", "--no-patch"],
                cwd=ROOT, capture_output=True, text=True,
            ).stdout.strip().splitlines()
            src_cache[key] = float(out[0]) if out else 0.0
        src_t = src_cache[key]
        if rel in dirty:
            src_t = time.time()
        ev_t = evidence_time.get(name)
        if ev_t is None or src_t > ev_t:
            n_stale += 1
            why = "no evidence row" if ev_t is None else (
                f"source changed {src_t - ev_t:.0f}s after newest evidence"
            )
            print(f"STALE {name}: {why} ({rel}:{start})")
    print(f"stale-check: {n_stale} stale / {len(REGISTRY)} queries")
    return 1 if n_stale else 0


def main():
    if "--stale-check" in sys.argv:
        sys.exit(stale_check())
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("driver-sim")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        # deliberately hostile: a non-UTC session timezone, to prove
        # the engine's prepare() takes over
        .config("spark.sql.session.timeZone", "America/New_York")
        .getOrCreate()
    )

    df = E.entry(spark)
    rows = df.collect()
    print(f"entry(): {len(rows)} rows, schema={df.columns}")
    assert len(rows) > 0

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_CORRECT}/{t}.parquet'")

    # --json PATH: also write a CORRECTNESS_r{N}.json-shaped report
    # (rows_match/schema_match/hash_match/spark_rows/oracle_rows/err per
    # query) so each round carries full-registry self-run evidence even
    # when the external gate's evaluation window is smaller.
    json_path = None
    if "--json" in sys.argv:
        json_path = sys.argv[sys.argv.index("--json") + 1]

    # --only q12,q35: run just the queries whose name starts with one of
    # the given prefixes (fast targeted re-verification after a change).
    only = None
    if "--only" in sys.argv:
        only = sys.argv[sys.argv.index("--only") + 1].split(",")

    qs = E.queries()
    if only:
        qs = {n: f for n, f in qs.items() if any(n.startswith(p) for p in only)}
    oracles = E.oracle_sql()
    n_pass = n_fail = 0
    report: dict[str, dict] = {}
    for name in qs:  # evaluation order = queries() order, like the driver
        try:
            t0 = time.perf_counter()
            sdf = qs[name](spark, SF_CORRECT)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            dt = time.perf_counter() - t0
        except Exception as exc:  # a crash is a red row, not a sim abort
            n_fail += 1
            report[name] = {
                "rows_match": None, "schema_match": None, "hash_match": None,
                "spark_rows": None, "oracle_rows": None,
                "err": f"{type(exc).__name__}: {exc}"[:400],
            }
            print(f"FAIL {name}: query raised {type(exc).__name__}")
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(srows)} rows in {dt:.1f}s")
            report[name] = {
                "rows_match": None, "schema_match": None, "hash_match": None,
                "spark_rows": len(srows), "oracle_rows": None,
                "err": "no_oracle",
            }
            continue
        res = con.execute(oracles[name])
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
        rows_match = len(srows) == len(drows)
        schema_match = sorted(scols) == sorted(dcols)
        hash_match = rows_match and schema_match
        if hash_match:
            ns, nd = norm(srows, scols), norm(drows, dcols)
            hash_match = ns == nd
        ok = rows_match and schema_match and hash_match
        status = "PASS" if ok else "FAIL"
        if ok:
            n_pass += 1
        else:
            n_fail += 1
        report[name] = {
            "rows_match": rows_match, "schema_match": schema_match,
            "hash_match": hash_match, "spark_rows": len(srows),
            "oracle_rows": len(drows), "err": None,
        }
        print(f"{status} {name}: {len(srows)} rows in {dt:.1f}s")
        # release intra-query persisted intermediates (LSH shingle /
        # bucket / pair tables) so the persist contract does not depend
        # on bench.py being the only harness that runs many queries in
        # one session
        spark.catalog.clearCache()
        if not ok:
            print(f"  spark cols={scols} rows={len(srows)}; duck cols={dcols} rows={len(drows)}")
            ns, nd = norm(srows, scols), norm(drows, dcols)
            bad = [(a, b) for a, b in zip(ns, nd) if a != b][:2]
            for a, b in bad:
                print(f"  spark={a}\n  duck ={b}")
    n_rows_only = sum(1 for n in qs if n not in oracles)
    print(f"TOTAL: {n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    if json_path:
        with open(json_path, "w") as fh:
            json.dump(report, fh, indent=2)
        print(f"wrote {json_path}")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
