"""Spans around the calls into each engine layer, plus Spark stage metrics.

The engine is not edited: ``Tracer.wrap`` replaces a module attribute
with a wrapper that records a span, and ``restore`` puts the original
back. Spans (name, start, end, parent, op id) are kept in memory.
Spans that may run Spark jobs tag them with a job group; after each op,
``StageMetrics.collect`` reads the driver's status REST API and charges every
stage to the span whose group submitted it.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time
import urllib.request
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    note: dict = field(default_factory=dict)
    stages: list = field(default_factory=list)  # REST StageData dicts

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.enabled = False
        self.sc = None  # SparkContext, for job groups
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._op_root: Span | None = None
        self._op = 0
        self._patched: list[tuple[object, str, object]] = []

    # -- spans --------------------------------------------------------------

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> Span | None:
        stack = self._stack()
        return stack[-1] if stack else self._op_root

    @contextlib.contextmanager
    def span(self, name: str, jobs: bool = False, root: bool = False):
        if not self.enabled:
            yield None
            return
        parent = self.current()
        s = Span(next(self._ids), name, time.perf_counter(),
                 parent=parent.id if parent else None, op=self._op,
                 note={"_jobs": jobs})
        self.spans.append(s)
        stack = self._stack()
        stack.append(s)
        if root:
            self._op_root = s
        if jobs and self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", f"span-{s.id}")
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            if jobs and self.sc is not None:
                outer = next(
                    (p for p in reversed(stack) if p.note.get("_jobs")), None
                )
                self.sc.setLocalProperty(
                    "spark.jobGroup.id", f"span-{outer.id}" if outer else None
                )
            if root:
                self._op_root = None

    def begin_op(self) -> int:
        self._op += 1
        return self._op

    def wrap(self, owner, attr: str, name, jobs: bool = False, note=None) -> None:
        """Replace ``owner.attr`` with a spanned wrapper. ``name`` is a span
        name, or a function of the call's arguments returning one (None =
        no span for this call). ``note(result)`` adds counts to the span."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            if not self.enabled or label is None:
                return original(*args, **kwargs)
            with self.span(label, jobs=jobs) as s:
                out = original(*args, **kwargs)
                if note is not None:
                    s.note.update(note(out))
                return out

        self._patched.append((owner, attr, original))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    # -- derived numbers ----------------------------------------------------

    def op_spans(self, op: int) -> list[Span]:
        return [s for s in self.spans if s.op == op]

    @staticmethod
    def self_times(spans: list[Span]) -> dict[int, float]:
        """Span duration minus the part of its interval its children cover."""
        children: dict[int, list[Span]] = {}
        for s in spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = {}
        for s in spans:
            covered, cur_start, cur_end = 0.0, None, None
            for c in sorted(children.get(s.id, []), key=lambda c: c.start):
                a, b = max(c.start, s.start), min(c.end, s.end)
                if b <= a:
                    continue
                if cur_end is None or a > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = a, b
                else:
                    cur_end = max(cur_end, b)
            if cur_end is not None:
                covered += cur_end - cur_start
            out[s.id] = s.duration - covered
        return out


class StageMetrics:
    """Reads jobs and stages from the driver's status REST API."""

    def __init__(self, sc):
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self.last_job = -1

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as r:
            return json.load(r)

    def collect(self, spans: list[Span], root: Span, timeout: float = 10.0) -> int:
        """Attach the stages of every job since the last call to the span
        whose job group submitted it (untagged jobs go to ``root``).
        Returns the number of jobs seen."""
        deadline = time.monotonic() + timeout
        prev = None
        while True:
            jobs = [j for j in self._get("/jobs") if j["jobId"] > self.last_job]
            settled = all(j["status"] != "RUNNING" for j in jobs)
            key = sorted(j["jobId"] for j in jobs)
            if (settled and key == prev) or time.monotonic() > deadline:
                break
            prev = key
            time.sleep(0.2)
        stages = {s["stageId"]: s for s in self._get("/stages") if s["status"] == "COMPLETE"}
        by_id = {f"span-{s.id}": s for s in spans}
        seen: set[int] = set()
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            owner = by_id.get(j.get("jobGroup"), root)
            if owner is None:
                continue
            for sid in j["stageIds"]:
                if sid in stages and sid not in seen:
                    seen.add(sid)
                    owner.stages.append(stages[sid])
        if jobs:
            self.last_job = max(j["jobId"] for j in jobs)
        return len(jobs)
