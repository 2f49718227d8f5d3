"""Span recorder for the traced benchmark run.

Spans are recorded from the benchmark's side of each layer boundary: around
the calls the benchmark makes itself, and around the program's public
functions, which ``Tracer.wrap`` replaces at run time for the traced run
only. Each span gets its own Spark job group, so the jobs, stages and tasks
it ran are read back from the status tracker when it ends. Spans stay in
memory and are written out once, when the run ends.

The recorder also times its own bookkeeping (job-group switches and status
tracker reads), which is the tracing overhead the traced run adds on top of
the program's work.
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
    op: str | None  # the cycle or operation the span belongs to
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.dur - _covered(children.get(s.id, []), s.start, s.end)
        for s in spans
    }


def inclusive_counts(spans: list[Span]) -> dict[int, tuple[int, int, int]]:
    """Span id -> (jobs, stages, tasks) of the span and all its descendants.
    A span's own counts hold only the jobs run while it was the innermost
    open span."""
    kids: dict[int | None, list[Span]] = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)
    out: dict[int, tuple[int, int, int]] = {}

    def visit(s: Span) -> tuple[int, int, int]:
        j, st, t = s.jobs, s.stages, s.tasks
        for c in kids.get(s.id, []):
            cj, cs, ct = visit(c)
            j, st, t = j + cj, st + cs, t + ct
        out[s.id] = (j, st, t)
        return out[s.id]

    for root in kids.get(None, []):
        visit(root)
    return out


class Tracer:
    """Records nested spans. ``sc`` is the SparkContext whose jobs are
    attributed to spans; None records timings only (used by tests)."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []
        self.op: str | None = None
        self.bookkeeping_s = 0.0

    # -- job groups -------------------------------------------------------
    def _group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        t = time.perf_counter()
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"perfbench-{span.id}", span.name)
        self.bookkeeping_s += time.perf_counter() - t

    def group_counts(self, group: str) -> tuple[int, int, int]:
        """(jobs, stages, tasks) the status tracker holds for ``group``."""
        if self.sc is None:
            return 0, 0, 0
        t = time.perf_counter()
        tracker = self.sc.statusTracker()
        jobs = stages = tasks = 0
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is not None:
                    stages += 1
                    tasks += st.numTasks
        self.bookkeeping_s += time.perf_counter() - t
        return jobs, stages, tasks

    # -- spans ------------------------------------------------------------
    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans),
            name=name,
            parent=parent.id if parent else None,
            op=self.op,
            start=0.0,
            attrs=dict(attrs),
        )
        self.spans.append(s)
        self._stack.append(s)
        self._group(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._group(parent)
            s.jobs, s.stages, s.tasks = self.group_counts(f"perfbench-{s.id}")

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a version that records a span per
        call; ``unwrap_all`` restores the original."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        self._patched.append((owner, attr, owner.__dict__.get(attr, orig)))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    # -- output -----------------------------------------------------------
    def dump(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            for s in self.spans:
                rec = asdict(s)
                rec["self_s"] = selfs[s.id]
                f.write(json.dumps(rec) + "\n")
