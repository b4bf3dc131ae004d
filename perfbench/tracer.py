"""Span tracer for the benchmark's traced runs.

Spans are recorded from the benchmark's own files only: ``Tracer.wrap``
replaces a module attribute or a class method with a wrapper that opens a
span around the call, and ``Tracer.unwrap_all`` restores the originals. The
engine reaches its layers through module attributes and class methods
(``rollup_job`` calls ``series.series_1m``, ``SnapshotTable.commit``, ...),
so the wrappers see those calls without any engine change.

Each span records name, start, end, parent span and op id. Spans stay in
memory until ``dump``. Every span also owns a Spark job group (the public
``SparkContext.setJobGroup``), so the jobs and stages it submits are
counted exactly with ``statusTracker()`` when it closes; a job belongs to the
innermost open span.

Spark is lazy: a wrapped call that returns a DataFrame times plan building
only, and the execution shows up in the span of the action that forces it
(a commit, a collect).
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans while ``enabled``; when disabled, wrapped calls go
    straight to the original function (the untraced side of the overhead
    measurement)."""

    def __init__(self, sc=None, enabled: bool = True):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op: int | None = None
        self._patched: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"span-{span.id}", span.name)

    def _count_jobs(self, span: Span) -> None:
        if self.sc is None:
            return
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(f"span-{span.id}")
        span.jobs = len(jobs)
        for j in jobs:
            info = st.getJobInfo(j)
            span.stages += len(info.stageIds) if info is not None else 0

    @contextmanager
    def span(self, name: str, op: bool = False, **attrs):
        """Open a span. ``op=True`` starts a new op: this span and every span
        opened inside it share its id as their op id."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans),
            name=name,
            parent=parent.id if parent else None,
            op=None,
            start=time.perf_counter(),
            attrs=dict(attrs),
        )
        prev_op = self._op
        if op:
            self._op = s.id
        s.op = self._op
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            self._count_jobs(s)
            self._op = prev_op

    def wrap(self, owner, attr: str, name: str, on_call=None) -> None:
        """Trace every call of ``owner.attr`` as span ``name``. ``on_call(span,
        args, kwargs, result)`` may add attributes to the span; it runs after
        the span has closed, so its own cost stays out of the span."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return original(*args, **kwargs)
            with self.span(name) as s:
                result = original(*args, **kwargs)
            if on_call is not None:
                on_call(s, args, kwargs, result)
            return result

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, original))

    def unwrap_all(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    # -- reports -----------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the time its direct children cover
        (children never overlap: the client is one thread)."""
        out = {s.id: s.duration for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                out[s.parent] -= s.duration
        return out

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        t0 = self.spans[0].start if self.spans else 0.0
        rows = []
        for s in self.spans:
            d = asdict(s)
            d["start"] = round(s.start - t0, 6)
            d["end"] = round(s.end - t0, 6)
            d["self_s"] = round(selfs[s.id], 6)
            rows.append(d)
        with open(path, "w") as fh:
            json.dump(rows, fh, default=str)
