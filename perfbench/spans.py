"""In-memory spans around the benchmark's calls into each engine layer.

A span has a name, start, end, parent and operation id. Each span runs
its calls under its own Spark job group, so the jobs it launched and their
failed tasks are read back from ``statusTracker`` once the run ends (the
status store is fed asynchronously, so reading it per span would race).
A disabled tracer keeps only the wall clock and touches no Spark state.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float = 0.0
    parent: "int | None" = None
    op: "int | None" = None
    jobs: int = 0
    failed_tasks: int = 0
    children: list = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    def __init__(self, sc, enabled: bool) -> None:
        self.sc = sc
        self.enabled = enabled
        self.spans: list = []
        self._stack: list = []
        self._next_op = 0

    def new_op(self) -> int:
        self._next_op += 1
        return self._next_op

    @contextmanager
    def span(self, name: str, op: "int | None" = None):
        """Times the block; when enabled, records it as a child of the
        enclosing span and tags its Spark jobs with a span-owned group."""
        start = time.perf_counter()
        if not self.enabled:
            holder = Span(-1, name, start)
            try:
                yield holder
            finally:
                holder.end = time.perf_counter()
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = parent.op
        s = Span(len(self.spans), name, start,
                 parent=parent.sid if parent else None, op=op)
        self.spans.append(s)
        if parent is not None:
            parent.children.append(s.sid)
        self._stack.append(s)
        self.sc.setJobGroup(self._group(s), name, False)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(self._group(parent), parent.name, False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def paused(self):
        """Warm-up calls: timed by nobody, recorded nowhere."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    @contextmanager
    def around(self, calls):
        """Give each call made inside the block to one of ``calls`` — public
        engine callables as ``(owner, attribute, span name)`` — a span of
        its own; the originals are restored on exit. A disabled tracer
        wraps nothing."""
        if not self.enabled:
            yield
            return
        saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in calls]
        for (owner, attr, fn), (_, _, name) in zip(saved, calls):
            setattr(owner, attr, self._spanned(name, fn))
        try:
            yield
        finally:
            for owner, attr, fn in saved:
                setattr(owner, attr, fn)

    def _spanned(self, name: str, fn):
        @functools.wraps(fn)
        def call(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return call

    def record(self, name: str, start: float, end: float) -> None:
        """A top-level span timed before the tracer existed."""
        if self.enabled:
            self.spans.append(Span(len(self.spans), name, start, end))

    @staticmethod
    def _group(s: Span) -> str:
        return f"perfbench-span-{s.sid}"

    def resolve_jobs(self) -> None:
        """Fill each span's own job and failed-task counts, then roll
        children up into their parents (a span owns what it caused)."""
        if not self.enabled:
            return
        st = self.sc.statusTracker()
        for s in self.spans:
            ids = st.getJobIdsForGroup(self._group(s))
            s.jobs = len(ids)
            for jid in ids:
                job = st.getJobInfo(jid)
                for stage_id in (job.stageIds if job else ()):
                    stage = st.getStageInfo(stage_id)
                    if stage is not None:
                        s.failed_tasks += stage.numFailedTasks
        for s in reversed(self.spans):  # children come after their parent
            if s.parent is not None:
                p = self.spans[s.parent]
                p.jobs += s.jobs
                p.failed_tasks += s.failed_tasks

    def by_name(self, name: str) -> list:
        return [s for s in self.spans if s.name == name]

    def self_time(self, s: Span) -> float:
        """The time ``s`` spent outside its child spans."""
        return s.duration - sum(self.spans[c].duration for c in s.children)

    def self_time_by_layer(self) -> dict:
        out: dict = defaultdict(float)
        for s in self.spans:
            out[s.layer] += self.self_time(s)
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
