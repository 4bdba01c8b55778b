"""Spans around the benchmark's calls into each layer of the program.

A span records its name, start, end, parent and run id. Spans stay in
memory and are written out once, when the run ends. With tracing off,
``Tracer.span`` records nothing and calls nothing, so untraced runs time
the program alone.

With tracing on, each span also becomes a Spark job group, so the jobs,
stages and tasks launched inside a span are counted exactly from the
status tracker once the span closes.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its
    direct children cover (overlapping children are merged first)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(children.get(s.span_id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.span_id] = s.duration - covered
    return out


class Tracer:
    """Collects spans for one run. ``spark`` is optional so the span
    arithmetic can be used without a session."""

    def __init__(self, enabled: bool, run_id: str, spark=None):
        self.enabled = enabled
        self.run_id = run_id
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(next(self._ids), name, parent.span_id if parent else None,
                 self.run_id, time.perf_counter())
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            s.counts = self._job_counts(s)
            self._set_group(parent)
            self.spans.append(s)

    def _group(self, s: Span) -> str:
        return f"{self.run_id}/{s.span_id}"

    def _set_group(self, s: Span | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if s is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(self._group(s), s.name)

    def _job_counts(self, s: Span) -> dict:
        """Jobs, stages, tasks and failed tasks run directly in ``s``
        (not in its children, which have their own job groups)."""
        if self.spark is None:
            return {}
        st = self.spark.sparkContext.statusTracker()
        jobs = stages = tasks = failed = 0
        for jid in st.getJobIdsForGroup(self._group(s)):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                si = st.getStageInfo(sid)
                if si is None:
                    continue
                stages += 1
                tasks += si.numTasks
                failed += si.numFailedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks,
                "failed_tasks": failed}

    def total_counts(self, s: Span) -> dict:
        """Counts of ``s`` plus every span below it."""
        tot = dict(s.counts)
        for c in self.spans:
            if c.parent == s.span_id:
                for k, v in self.total_counts(c).items():
                    tot[k] = tot.get(k, 0) + v
        return tot

    def write(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            json.dump(
                [dict(asdict(s), self_s=selfs[s.span_id]) for s in self.spans],
                f,
            )
