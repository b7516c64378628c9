"""Host-noise bracket and memory probes read from ``/proc``.

A shared VM can lose whole cores to CPU steal for minutes; unchanged
code then measures 1.3-2.5x slower. Every run therefore reports the
steal-tick share of all CPU ticks over the run and a parallel CPU
calibration taken before and after it, so a reader can tell a steal
episode from a regression.
"""

from __future__ import annotations

import hashlib
import time
from concurrent.futures import ThreadPoolExecutor


def cpu_ticks() -> tuple[int, int] | None:
    """(steal, total) cumulative ticks of the aggregate cpu line."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
    except OSError:
        return None
    if not parts or parts[0] != "cpu":
        return None
    vals = [int(x) for x in parts[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    # guest time is already counted inside user/nice
    return steal, sum(vals[:8])


def steal_share(t0: tuple[int, int] | None, t1: tuple[int, int] | None) -> float | None:
    if t0 is None or t1 is None or t1[1] <= t0[1]:
        return None
    return (t1[0] - t0[0]) / (t1[1] - t0[1])


def parallel_calibration(n_threads: int, mib_per_thread: int = 16) -> float:
    """Seconds for ``n_threads`` threads to md5 ``mib_per_thread`` MiB
    each at once (md5 releases the GIL on large buffers, so this
    loads every core); best of 3."""
    blob = bytes(range(256)) * 4096  # 1 MiB

    def one(_: int) -> None:
        h = hashlib.md5()
        for _ in range(mib_per_thread):
            h.update(blob)

    best = float("inf")
    with ThreadPoolExecutor(max_workers=n_threads) as pool:
        for _ in range(3):
            t0 = time.perf_counter()
            list(pool.map(one, range(n_threads)))
            best = min(best, time.perf_counter() - t0)
    return best


def vm_hwm_kib(pid: int | str = "self") -> int:
    """Peak resident set (``VmHWM``) of a process in KiB; 0 if gone."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0
