#!/usr/bin/env python3
"""Benchmark of the engine's two jobs: incremental ETL and LLM-curation
operators, plus a mixed read workload over the transactional table.

    python3 perfbench/run.py --workload etl_incremental --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root. The command generates the workload's
inputs from ``--seed`` under ``.perfbench_work/``, sets up a session on
``local[<cores>]`` and the workload's tables, runs warm-up operations,
then runs timed operations from one client in a closed loop for
``--seconds`` and checks every output. ``setup_s`` is the time from
process start to the first timed operation, less input generation and
the host-noise calibration.

Output: human-readable ``# ...`` lines (the host-noise bracket and
every metric by name and unit), then, as the last line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics of ``BENCHMARK.json``; ``--trace 1``
records spans and reports its per-layer metrics, and writes all spans
to ``.perfbench_work/results/``. The exit code is non-zero when any
correctness check failed.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="input size; 'tiny' is for the benchmark's own tests")
    return p.parse_args(argv)


# Driver heap, fixed (-Xms = -Xmx): the engine's default (16g) exceeds
# small hosts, and the inputs are a few MB. A growable heap made the
# JVM's peak RSS follow the collector's timing (12-19% spread over ten
# runs on a 4-core host); a fixed 1g heap is fully touched in every run
# (~3% spread), so peak_rss_mb moves with the Python driver and the
# JVM's non-heap memory, or with a heap that no longer fits.
DRIVER_MEM = "1g"


def _configure_env(work: str) -> int:
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = tmp
    return cpus


def _spark_conf(work: str) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }


def _stop_jvm(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def _peak_rss_mb(spark) -> float:
    from host import vm_hwm_kib

    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return (vm_hwm_kib("self") + vm_hwm_kib(jvm_pid)) / 1024.0


def main(argv: list[str]) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    # the engine must be importable from the checkout; outside one this
    # raises before any work is done and no result is printed
    import datapipeline_scraping_spark  # noqa: F401
    from datapipeline_scraping_spark.session import build_spark

    import host
    from spans import Tracer
    from workloads import WORKLOADS, trace_table_loads

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cpus = _configure_env(work)

    t_cal = time.perf_counter()
    ticks0 = host.cpu_ticks()
    calib0 = host.parallel_calibration(cpus)
    calib_s = time.perf_counter() - t_cal
    wl = WORKLOADS[args.workload](work, args.seed, args.size)
    t_gen = time.perf_counter()
    wl.generate()
    wl.gen_s += time.perf_counter() - t_gen

    spark = None
    try:
        # one cold set-up: JVM launch, engine imports and JIT warm-up
        # are part of what a user waits for, so none is repeated warm
        t0 = time.perf_counter()
        spark = build_spark(app_name="perfbench", extra_conf=_spark_conf(work))
        build_s = time.perf_counter() - t0
        wl.setup(spark)

        # the warm-up and the end-of-run check count as one operation each
        attempted, failed = 1, 0
        try:
            failed += not wl.warmup(spark, Tracer(False))
        except Exception:
            traceback.print_exc()
            failed += 1
        wl.reset()
        setup_s = time.perf_counter() - T_START - wl.gen_s - calib_s

        tr = Tracer(bool(args.trace), spark.sparkContext)
        if tr.enabled:
            trace_table_loads(tr)
        items = n_ops = 0
        t_loop = time.perf_counter()
        while n_ops < wl.min_ops or time.perf_counter() - t_loop < args.seconds:
            n_ops += 1
            try:
                n, ok = wl.op(spark, tr)
            except Exception:
                traceback.print_exc()
                n, ok = 0, wl.fail("operation raised: see stderr")
            items += n
            failed += not ok
        attempted += n_ops
        loop_s = time.perf_counter() - t_loop
        # each workload times only its own operation, not input
        # generation or output checks
        lat = wl.latencies

        final_ok, named = wl.finish(spark, tr)
        failed += not final_ok
        attempted += 1
        rss = _peak_rss_mb(spark)
    finally:
        if spark is not None:
            _stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
    ticks1 = host.cpu_ticks()
    calib1 = host.parallel_calibration(cpus)
    steal = host.steal_share(ticks0, ticks1)

    e2e = {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (rss, "MB"),
        "items_per_s": (items / sum(lat), "1/s"),
        "op_ms_p50": (1e3 * statistics.median(lat), "ms"),
    }
    layer = {}
    if tr.enabled:
        n = len(lat)
        top = [s for s in tr.spans if s["parent"] is None]
        layer = {
            "session.build_s": (build_s, "s"),
            "build.ms_per_op": (1e3 * sum(s["end"] - s["start"] for s in top
                                          if s["name"].endswith(".build")) / n, "ms"),
            "exec.ms_per_op": (1e3 * sum(s["end"] - s["start"] for s in top
                                         if s["name"].endswith(".exec")) / n, "ms"),
            "spark.jobs_per_op": (sum(s.get("jobs", 0) for s in tr.spans) / n, "count"),
            "spark.tasks_per_op": (sum(s.get("tasks", 0) for s in tr.spans) / n, "count"),
            "trace.overhead_ratio": (tr.overhead_s / loop_s, "ratio"),
        }

    correct = failed == 0
    print(f"# workload={args.workload} seed={args.seed} size={args.size} trace={args.trace} "
          f"cpus={cpus} ops={len(lat)} loop_s={loop_s:.2f} gen_s={wl.gen_s:.2f}")
    print(f"# noise: steal_share={'n/a' if steal is None else f'{steal:.4f}'} "
          f"calib_parallel_s before={calib0:.4f} after={calib1:.4f} "
          f"(drift {calib1 / calib0 - 1:+.1%})")
    for name, (v, unit) in {**e2e, **named, **layer,
                            "ops_failed_ratio": (failed / attempted, "ratio")}.items():
        print(f"# metric {name} = {v:.6g} {unit}")
    for note in wl.notes:
        print(f"# FAILED CHECK: {note}")

    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, f"{args.workload}-seed{args.seed}")
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "size": args.size, "cpus": cpus,
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in {**e2e, **named, **layer}.items()},
        "noise": {"steal_share": steal, "calib_parallel_s": [calib0, calib1]},
        "op_s": lat, "notes": wl.notes,
    }
    if tr.enabled:
        record["spans"] = tr.spans
        untraced = f"{stem}-trace0.json"
        if os.path.exists(untraced):
            with open(untraced) as fh:
                base = json.load(fh)
            if (base["size"], base["seconds"]) == (args.size, args.seconds):
                over = e2e["op_ms_p50"][0] / base["metrics"]["op_ms_p50"]["value"] - 1
                record["overhead_vs_untraced"] = over
                print(f"# trace overhead vs untraced run of this seed: op_ms_p50 {over:+.1%}")
    with open(f"{stem}-trace{args.trace}.json", "w") as fh:
        json.dump(record, fh, indent=1)

    report = layer if tr.enabled else e2e
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in report.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
