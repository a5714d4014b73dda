"""Outside-in tracing: spans recorded around calls into the program's
public functions, Spark job/stage/task counts per operation, and per-layer
self time.

A span's layer is its name up to the first dot (``api.weekly_trends`` is
in layer ``api``). Self time is a span's duration minus the part of it
its child spans cover. Timed runs use :class:`NullTracer`: its spans
cost one ``nullcontext`` and it wraps nothing.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    span_id: int
    parent: int | None
    op: int
    name: str
    start: float
    end: float

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    """Collects spans in memory; :meth:`dump` writes them out at the end."""

    enabled = True

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def new_op(self) -> int:
        with self._lock:
            return next(self._ids)

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            span_id = next(self._ids)
        if op is None:
            op = parent.op if parent else span_id
        s = Span(span_id, parent.span_id if parent else None, op, name, time.perf_counter(), 0.0)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(s)

    def wrap(self, module, attr: str, name) -> None:
        """Replace ``module.attr`` with a wrapper that records a span;
        ``name`` is a span name or a function of the call's arguments."""
        original = getattr(module, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            with self.span(label):
                return original(*args, **kwargs)

        self._patched.append((module, attr, original))
        setattr(module, attr, traced)

    def restore(self) -> None:
        for module, attr, original in reversed(self._patched):
            setattr(module, attr, original)
        self._patched.clear()

    def self_times(self) -> dict[str, float]:
        """Total self time per layer, in seconds."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        totals: dict[str, float] = {}
        for s in self.spans:
            covered, cursor = 0.0, s.start
            for c in sorted(children.get(s.span_id, []), key=lambda c: c.start):
                lo, hi = max(c.start, cursor), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            totals[s.layer] = totals.get(s.layer, 0.0) + (s.end - s.start - covered)
        return totals

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


class NullTracer:
    """Tracing off: no spans, no wrapping."""

    enabled = False

    def new_op(self) -> int:
        return 0

    def span(self, name: str, op: int | None = None):
        return contextlib.nullcontext()

    def wrap(self, module, attr: str, name) -> None:
        pass

    def restore(self) -> None:
        pass


@dataclass
class JobCounts:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0


def job_counts(sc, group: str, timeout_s: float = 10.0) -> JobCounts:
    """Jobs, stages and tasks Spark ran under job group ``group``, read
    from the public status tracker once every job of the group has ended
    (the tracker is fed asynchronously by the listener bus)."""
    tracker = sc.statusTracker()
    deadline = time.monotonic() + timeout_s
    while True:
        infos = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
        done = all(i is not None and i.status in ("SUCCEEDED", "FAILED") for i in infos)
        if done or time.monotonic() > deadline:
            break
        time.sleep(0.01)
    counts = JobCounts(jobs=len(infos))
    for info in infos:
        for stage_id in info.stageIds if info else ():
            stage = tracker.getStageInfo(stage_id)
            counts.stages += 1
            if stage is not None:
                counts.tasks += stage.numTasks
                counts.failed_tasks += stage.numFailedTasks
    return counts


@contextlib.contextmanager
def job_group(sc, tracer, group: str):
    """Tag the Spark jobs this thread starts with ``group`` (traced runs
    only; untraced runs leave Spark's job properties alone)."""
    if not tracer.enabled:
        yield
        return
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
