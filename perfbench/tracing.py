"""Timing, spans and Spark counters for the benchmark's own calls.

Every timed call runs under its own Spark job group. With tracing on, the
call also becomes a span (name, start, end, parent, op id) kept in memory,
and ``statusTracker`` supplies the call's job, stage and task counts.
Spans are written out once, when the run ends. Nothing here reaches into
the engine: spans sit around the benchmark's calls into each module.
"""

from __future__ import annotations

import json
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op_id: int = 0
    counts: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, workload: str, enabled: bool):
        self.sc = spark.sparkContext
        self.status = self.sc.statusTracker()
        self.workload = workload
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._groups = 0
        self.op_id = 0
        self.failed_tasks = 0
        self.calls = 0
        self.own_s = 0.0            # time spent in the tracer itself

    def next_op(self) -> None:
        """Start a new operation: later spans carry its id."""
        self.op_id += 1

    @contextmanager
    def span(self, name: str):
        """A span with no job group of its own (e.g. one workload round)."""
        if not self.enabled:
            yield None
            return
        s = Span(name, time.perf_counter(),
                 parent=self._stack[-1] if self._stack else None,
                 op_id=self.op_id)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def timed(self, name: str, fn):
        """Run ``fn()`` under a fresh job group; returns (result, seconds,
        counts). Counts are only collected with tracing on."""
        self._groups += 1
        group = f"perfbench.{self.workload}.{self._groups}"
        self.sc.setJobGroup(group, name)
        with self.span(name) as s:
            t0 = time.perf_counter()
            try:
                out = fn()
            finally:
                dt = time.perf_counter() - t0
                self.sc.setJobGroup("perfbench.idle", "idle")
        if not self.enabled:
            return out, dt, {}
        t1 = time.perf_counter()
        counts = s.counts = self._counts(group)
        self.calls += 1
        self.own_s += time.perf_counter() - t1
        return out, dt, counts

    def overhead_per_call(self) -> float:
        """Seconds the tracer adds to one traced call after the call
        returns (the statusTracker queries), measured as they run."""
        return self.own_s / max(self.calls, 1)

    def _counts(self, group: str) -> dict:
        jobs = sorted(self.status.getJobIdsForGroup(group))
        stages, tasks, failed = 0, 0, 0
        for j in jobs:
            info = self.status.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                stages += 1
                st = self.status.getStageInfo(sid)
                if st is not None:
                    tasks += st.numCompletedTasks
                    failed += st.numFailedTasks
        self.failed_tasks += failed
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks,
                "failed_tasks": failed}

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its child spans
        cover (children of one span never overlap: one client thread)."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.seconds
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s.name] += s.seconds - child[i]
        return dict(out)

    def write(self, path) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "op_id": s.op_id,
                    **s.counts}) + "\n")


class Outcomes:
    """Attempted / failed bookkeeping: an exception or an oracle mismatch
    is one failure."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.mismatches: list[str] = []
        self.errors: list[str] = []

    def attempt(self, fn):
        """Run one operation; an exception counts as a failure."""
        self.attempted += 1
        try:
            return fn()
        except Exception:
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=4))
            return None

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.mismatches.append(what)
