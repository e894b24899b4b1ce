"""Spans and job counts recorded in memory at the benchmark's own call
sites into the engine.

Each span has a name, start, end, parent and op id. Jobs are counted per
span through Spark job groups and the status tracker: a span inside
``run_with_timeout`` reads the deadline's job group and diffs its job ids;
any other span tags its calls with a job group of its own. A span's jobs
include those of its descendants. Each span keeps the time spent on its
own bookkeeping, from which the tracing overhead is summed.

A disabled tracer (end-to-end runs) makes ``span`` a no-op.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    idx: int
    parent: int | None
    op: int
    start: float = 0.0
    end: float = 0.0
    jobs: dict = field(default_factory=dict)  # job id -> completed tasks
    cost: float = 0.0  # seconds of bookkeeping around this span
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class _NullSpan:
    @property
    def attrs(self) -> dict:
        return {}  # attributes set on a disabled span are dropped


_NULL = _NullSpan()


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op = 0
        self.sc = None

    def bind(self, sc) -> None:
        """Attach to a (re)started SparkContext."""
        self.sc = sc
        self._tracker = sc.statusTracker() if sc is not None else None

    def next_op(self) -> None:
        self.op += 1

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield _NULL
            return
        t0 = time.perf_counter()
        group = own = None
        if self.sc is not None:
            group = self.sc.getLocalProperty("spark.jobGroup.id")
            if not group:
                group = own = f"perfbench-{len(self.spans)}"
                self.sc.setJobGroup(own, name)
        before = set(self._tracker.getJobIdsForGroup(group)) if group else set()
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, len(self.spans), parent, self.op, attrs=attrs)
        self._stack.append(sp.idx)
        self.spans.append(sp)
        sp.start = time.perf_counter()
        sp.cost = sp.start - t0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if group and self.sc is not None:
                new = set(self._tracker.getJobIdsForGroup(group)) - before
                sp.jobs = {j: self._completed_tasks(j) for j in new}
            if own:
                self.sc.setJobGroup("", "")
            sp.cost += time.perf_counter() - sp.end

    def _completed_tasks(self, job_id: int) -> int:
        info = self._tracker.getJobInfo(job_id)
        if info is None:
            return 0
        n = 0
        for s in info.stageIds:
            st = self._tracker.getStageInfo(s)
            n += st.numCompletedTasks if st is not None else 0
        return n

    # -- aggregation --------------------------------------------------------

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def total_jobs(self, span: Span) -> tuple[int, int]:
        """(jobs, completed tasks) of ``span`` and its descendants."""
        jobs = dict(span.jobs)
        for i in range(span.idx + 1, len(self.spans)):
            if self._descends(i, span.idx):
                jobs.update(self.spans[i].jobs)
        return len(jobs), sum(jobs.values())

    def _descends(self, i: int, anc: int) -> bool:
        p = self.spans[i].parent
        while p is not None:
            if p == anc:
                return True
            p = self.spans[p].parent
        return False

    def self_ms(self, idx: int) -> float:
        kids = sum(s.ms for s in self.spans if s.parent == idx)
        return self.spans[idx].ms - kids

    def dump(self, path: str) -> None:
        rows = [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
             "op": s.op, "jobs": s.jobs, "self_ms": self.self_ms(i),
             "cost_ms": s.cost * 1000.0, "attrs": s.attrs}
            for i, s in enumerate(self.spans)
        ]
        with open(path, "w") as fh:
            json.dump({"spans": rows}, fh)


def median(xs) -> float | None:
    xs = list(xs)
    return statistics.median(xs) if xs else None
