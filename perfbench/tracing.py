"""In-memory spans around calls into the engine's modules, and Spark job
counts read through public status APIs.

A span records its layer, name, operation id, parent, thread and start
and end times.  Spans stay in memory until the run ends and are written
out once.  A layer's self time is the time its spans cover minus the time
their child spans cover.  With tracing off every call is a no-op, so the
end-to-end run pays nothing but one attribute test per span site.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    parent: int | None
    layer: str
    name: str
    op: str | None
    thread: str
    start_ns: int
    end_ns: int


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, layer: str, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter_ns()
        try:
            yield
        finally:
            end = time.perf_counter_ns()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, parent, layer, name, op,
                                       threading.current_thread().name,
                                       start, end))

    def wrap(self, layer: str, name: str, fn):
        """``fn`` with every call recorded as a span (identity when off)."""
        if not self.enabled:
            return fn

        def traced(*args, **kwargs):
            with self.span(layer, name):
                return fn(*args, **kwargs)
        return traced

    def durations_ms(self, layer: str, name: str | None = None) -> list[float]:
        return [(s.end_ns - s.start_ns) / 1e6 for s in self.spans
                if s.layer == layer and (name is None or s.name == name)]

    def by_op_ms(self, layer: str, name: str) -> dict[str, float]:
        return {s.op: (s.end_ns - s.start_ns) / 1e6 for s in self.spans
                if s.layer == layer and s.name == name}

    def self_ms(self) -> dict[str, float]:
        """Per layer: span time minus the time covered by child spans."""
        child_ns: dict[int, int] = defaultdict(int)
        for s in self.spans:
            if s.parent is not None:
                child_ns[s.parent] += s.end_ns - s.start_ns
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.layer] += (s.end_ns - s.start_ns - child_ns[s.id]) / 1e6
        return dict(out)

    def span_cost_ns(self, n: int = 20000) -> float:
        """Measured cost of recording one span, for the overhead estimate."""
        saved, self.spans = self.spans, []
        t0 = time.perf_counter_ns()
        for _ in range(n):
            with self.span("calibrate", "calibrate"):
                pass
        cost = (time.perf_counter_ns() - t0) / n
        self.spans = saved
        return cost

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": [asdict(s) for s in self.spans]}, f)


class JobCounter:
    """Spark jobs, stages and tasks per operation.

    Each operation runs under its own job group (``setJobGroup``, which
    threads started through PySpark inherit); the counts are read back
    through ``statusTracker().getJobIdsForGroup`` once the run is over, so
    reading them never sits inside a timed region."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled

    @contextmanager
    def group(self, name: str):
        if not self.enabled:
            yield
            return
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def counts(self, name: str) -> dict[str, int]:
        """Jobs, stages that ran tasks, and tasks under group ``name``."""
        return self._count(self.sc.statusTracker().getJobIdsForGroup(name))

    def totals(self) -> dict[str, int]:
        """Every job the application ran, streaming batches included (those
        run under the stream's own job group).  Job ids are dense from 0, so
        walk them until the tracker stops knowing them."""
        st = self.sc.statusTracker()
        jobs, j, misses = [], 0, 0
        while misses < 100:
            if st.getJobInfo(j) is None:
                misses += 1
            else:
                jobs.append(j)
                misses = 0
            j += 1
        return self._count(jobs)

    def _count(self, jobs) -> dict[str, int]:
        st = self.sc.statusTracker()
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in (info.stageIds if info else ()):
                s = st.getStageInfo(sid)
                if s is not None and s.numCompletedTasks > 0:
                    stages += 1
                    tasks += s.numCompletedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}
