"""Benchmark-side spans around the engine's public calls.

A span records name, start, end, parent and request id. Spans live in
memory and are written out when the run ends. In a traced run each
span that wraps a Spark action also tags its jobs with
``sc.setJobGroup(span)`` and, on exit, counts the group's jobs and
tasks through ``sc.statusTracker()``; counting is driver-side
bookkeeping and launches no job, so the traced run executes exactly
the untraced run's Spark actions. The tracer's own time (span
bookkeeping plus status-tracker polling) is accumulated so the run can
report its overhead.
"""

from __future__ import annotations

import time
from contextlib import contextmanager


class Tracer:
    """Collects spans; ``enabled=False`` makes every method a no-op so
    the untraced run pays nothing."""

    def __init__(self, enabled: bool, sc=None) -> None:
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self.counters: dict[str, float] = {}
        self.overhead_s = 0.0
        self._stack: list[int] = []
        self._request = 0
        self._group_seq = 0

    def new_request(self) -> int:
        self._request += 1
        return self._request

    def add(self, name: str, value: float) -> None:
        """Accumulate a per-layer counter (no-op when untraced)."""
        if self.enabled:
            self.counters[name] = self.counters.get(name, 0.0) + value

    @contextmanager
    def span(self, name: str, *, spark_jobs: bool = False):
        """Time the enclosed block as span ``name``. With
        ``spark_jobs`` the block's Spark jobs are tagged and counted
        into the span's ``jobs``/``tasks``."""
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        rec = {
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "request": self._request,
            "id": len(self.spans),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        group = None
        if spark_jobs and self.sc is not None:
            self._group_seq += 1
            group = f"{name}#{self._group_seq}"
            self.sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        self.overhead_s += t0 - t_in
        rec["start"] = t0
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            rec["end"] = t1
            self._stack.pop()
            if group is not None:
                jobs, tasks = self._count(group)
                rec["jobs"], rec["tasks"] = jobs, tasks
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.overhead_s += time.perf_counter() - t1

    def _count(self, group: str) -> tuple[int, int]:
        st = self.sc.statusTracker()
        job_ids = st.getJobIdsForGroup(group)
        tasks = 0
        for j in job_ids:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                stage = st.getStageInfo(s)
                tasks += stage.numTasks if stage else 0
        return len(job_ids), tasks

    # -- aggregation -------------------------------------------------------

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def total(self, name: str, key: str | None = None) -> float:
        if key is None:
            return sum(self.durations(name))
        return sum(s.get(key, 0) for s in self.spans if s["name"] == name)

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)
