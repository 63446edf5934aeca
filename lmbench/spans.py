"""Spans around calls into the program's layers, for the traced run.

A ``Tracer`` records spans (name, start, end, parent, run id) in memory.
``Tracer.wrap`` replaces a module attribute with a wrapper that records a
span and tags every Spark job the call starts with its own job group, so
the status store can attribute stage metrics to the span.  ``unwrap_all``
puts the original attributes back.  Nothing is written until the caller
dumps ``Tracer.spans``.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from dataclasses import asdict, dataclass

_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description",
                "spark.job.interruptOnCancel")


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    group: str | None

    @property
    def secs(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str, sc=None):
        self.run_id = run_id
        self.sc = sc                     # SparkContext for job groups
        self.spans: list[Span] = []
        self.root: int | None = None     # parent for spans of other threads
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def group_prefix(self) -> str:
        return f"lmb:{self.run_id}:"

    def span(self, name: str):
        return _SpanCtx(self, name)

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def wrap(self, module, attr: str, name: str | None = None) -> None:
        orig = getattr(module, attr)
        label = name or f"{module.__name__.rsplit('.', 1)[-1]}.{attr}"

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            with self.span(label):
                return orig(*a, **kw)

        setattr(module, attr, wrapper)
        self._patched.append((module, attr, orig))

    def unwrap_all(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    def dump(self) -> list[dict]:
        return [dict(asdict(s), self_secs=self_time(s, self.spans))
                for s in self.spans]


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.t = tracer
        self.name = name

    def __enter__(self):
        t = self.t
        stack = t._stack()
        self.id = next(t._ids)
        self.parent = stack[-1] if stack else t.root
        self.group = None
        if t.sc is not None:
            self.group = f"{t.group_prefix()}{self.name}:{self.id}"
            self.saved = [t.sc.getLocalProperty(k) for k in _GROUP_PROPS]
            t.sc.setJobGroup(self.group, self.name)
        stack.append(self.id)
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        end = time.perf_counter()
        t = self.t
        t._stack().pop()
        if t.sc is not None:
            for k, v in zip(_GROUP_PROPS, self.saved):
                t.sc.setLocalProperty(k, v)
        with t._lock:
            t.spans.append(Span(self.id, self.name, self.start, end,
                                self.parent, t.run_id, self.group))
        return False


def self_time(span: Span, spans: list[Span]) -> float:
    """Span duration minus the part of it covered by its child spans."""
    kids = sorted((max(c.start, span.start), min(c.end, span.end))
                  for c in spans if c.parent == span.id)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in kids:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return span.secs - covered


def totals(spans: list[Span], names: set[str], self_only: bool = False
           ) -> tuple[float, int]:
    """(seconds, count) over spans with one of ``names``."""
    hit = [s for s in spans if s.name in names]
    secs = sum(self_time(s, spans) if self_only else s.secs for s in hit)
    return secs, len(hit)
