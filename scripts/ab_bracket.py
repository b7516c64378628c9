#!/usr/bin/env python
"""Quiet-window bracketed A/B: time queries standalone on two engine
trees in ONE session-per-tree pass, alternating trees, with a
/proc/stat steal bracket per sample block (r16 verdict item 7).

Usage: ab_bracket.py TREE_A TREE_B q1 q2 ... [--runs N]

Each tree gets its own subprocess (bench_one semantics: warmup,
clearCache between runs, best + all samples); steal ticks are read
before/after each subprocess so every number carries its own bracket.
Output: one JSON line per (tree, query) block on stdout.
"""
import argparse
import json
import os
import subprocess
import sys
import time

ap = argparse.ArgumentParser(description="bracketed A/B of two engine trees")
ap.add_argument("tree_a")
ap.add_argument("tree_b")
ap.add_argument("queries", nargs="+")
ap.add_argument("--runs", type=int, default=5, help="timed runs per block")
opts = ap.parse_args()
tree_a, tree_b, queries = opts.tree_a, opts.tree_b, opts.queries
runs = str(opts.runs)
here = os.path.dirname(os.path.abspath(__file__))


def steal():
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def cpu_busy():
    with open("/proc/stat") as fh:
        p = [int(x) for x in fh.readline().split()[1:]]
    return sum(p) - p[3]  # all minus idle


for q in queries:
    for tag, tree in (("A", tree_a), ("B", tree_b)):
        env = dict(os.environ, PYTHONPATH=tree)
        s0, b0, t0 = steal(), cpu_busy(), time.time()
        out = subprocess.run(
            [sys.executable, os.path.join(here, "bench_one.py"), q, runs],
            env=env, capture_output=True, text=True,
        )
        s1, b1, t1 = steal(), cpu_busy(), time.time()
        line = (out.stdout.strip().splitlines() or ["?"])[-1]
        print(json.dumps({
            "query": q, "tree": tag, "path": tree, "result": line,
            "steal_ticks": s1 - s0, "busy_ticks": b1 - b0,
            "wall_s": round(t1 - t0, 1),
        }), flush=True)
