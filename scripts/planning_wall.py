#!/usr/bin/env python
"""Planning-wall measurement for the manifest skipping tiers (r16;
VERDICT r15 item 5): at 100 TB the kept-file FRACTIONS are proven at
10x, but the new risk is the DRIVER-side planning cost — keep_file
runs over O(files) manifest entries x O(disjuncts). This synthesizes
1x/10x/100x FILE-COUNT copies of the q196/q199 temporal ledger
(metadata only: one tiny parquet hardlinked into N date dirs + a
fabricated commit log with per-file ts min/max stats) and times
``skipping.kept_files`` — the file picker ``predicate_view`` runs —
with the predicate parsed once outside the timing. No Spark session,
no job: planning is pure driver Python by design.

Shapes measured (the q196/q199/q200-adjacent planner paths):
- window:   ts >= A AND ts < B            (constant 6-day span)
- dnf:      two disjoint 3-day windows OR'd (constant total span)
- nullscan: ts IS NOT NULL                 (stats-only, keeps all)

Output: plans/r16/planning_wall.json + stdout table. Expected: wall
grows ~O(files) (the walk + per-file keep_file) with a per-file cost
of tens of microseconds, and kept counts stay O(window) — constant —
while file count grows 100x.
"""
from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import sys
import time
from pathlib import Path

#: the checkout this script lives in
ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from datapipeline_scraping_spark.sources.manifest_sql import parse_where  # noqa: E402
from datapipeline_scraping_spark.sources.skipping import conjunct, kept_files  # noqa: E402

BASE = str(ROOT / ".scratch" / "tpv_root_testdata_sf0_01")
OUT_ROOT = str(ROOT / ".scratch" / "planning_wall")
REPORT = str(ROOT / "plans" / "r16" / "planning_wall.json")


def synth(n_days: int) -> str:
    """A temporal ledger with one file per day for n_days, metadata
    fabricated, data bytes hardlinked from one real tpv file."""
    root = os.path.join(OUT_ROOT, f"d{n_days}")
    if os.path.exists(os.path.join(root, "CURRENT")):
        return root
    shutil.rmtree(root, ignore_errors=True)
    base_entry = json.load(
        open(os.path.join(BASE, "_log", "00000001.json"))
    )
    donor_rel, donor_stats = sorted(base_entry["file_stats"].items())[0]
    donor = os.path.join(BASE, base_entry["snapshot"], donor_rel)
    snap = "snap-000001-synth"
    os.makedirs(os.path.join(root, "_log"))
    file_stats = {}
    day0 = dt.date(2024, 1, 1)
    fname = os.path.basename(donor_rel)
    for i in range(n_days):
        d = day0 + dt.timedelta(days=i)
        ddir = os.path.join(root, snap, f"d={d.isoformat()}")
        os.makedirs(ddir)
        os.link(donor, os.path.join(ddir, fname))
        file_stats[f"d={d.isoformat()}/{fname}"] = {
            "ts": [
                f"{d.isoformat()} 00:00:00.000000",
                f"{d.isoformat()} 23:59:59.000000",
                0,
                364,
            ]
        }
    entry = dict(base_entry)
    entry.update(snapshot=snap, file_stats=file_stats, ts=time.time())
    with open(os.path.join(root, "_log", "00000001.json"), "w") as f:
        json.dump(entry, f)
    with open(os.path.join(root, "CURRENT"), "w") as f:
        f.write(f"{snap}\n1\n")
    return root


SHAPES = {
    "window": "ts >= TIMESTAMP '2024-01-10T00:00:00' AND ts < TIMESTAMP '2024-01-16T00:00:00'",
    "dnf": (
        "(ts >= TIMESTAMP '2024-01-04T00:00:00' AND ts < TIMESTAMP '2024-01-07T00:00:00') "
        "OR (ts >= TIMESTAMP '2024-01-22T00:00:00' AND ts < TIMESTAMP '2024-01-25T00:00:00')"
    ),
    "nullscan": "ts IS NOT NULL",
}


def main() -> None:
    results = {}
    for n_days in (30, 300, 3000):
        root = synth(n_days)
        entry = json.load(open(os.path.join(root, "_log", "00000001.json")))
        snap = os.path.join(root, entry["snapshot"])
        results[n_days] = {}
        for shape, where in SHAPES.items():
            disjuncts = [conjunct(c, entry) for c in parse_where(where)]
            # warm the dir cache once, then best-of-3 timed
            kept_files(snap, entry, disjuncts)
            best, kept = float("inf"), None
            for _ in range(3):
                t0 = time.perf_counter()
                kept = len(kept_files(snap, entry, disjuncts)[0])
                best = min(best, time.perf_counter() - t0)
            results[n_days][shape] = {
                "files": n_days,
                "kept": kept,
                "plan_wall_ms": round(best * 1000, 2),
            }
            print(
                f"files={n_days:5d} shape={shape:8s} kept={kept:5d} "
                f"plan={best * 1000:8.2f} ms",
                flush=True,
            )
    with open(REPORT, "w") as f:
        json.dump(results, f, indent=1)
    print(f"wrote {REPORT}")


if __name__ == "__main__":
    main()
