"""In-memory spans around calls into the library's layers.

A traced run rebinds chosen public functions of the library to
wrappers that record a span per call: name, layer, start, end, parent
span and op id. Nothing inside the library changes; a function that
other modules imported by name is rebound in each of those modules
too, so every call site is seen.

Work the driver only waits for, such as executors reading a source,
is added afterwards as a span of its own layer (:meth:`Tracer.insert`)
under the span that waited for it.

A layer's self time is its spans' durations minus the part of each
span its child spans cover (children of any layer).
"""

from __future__ import annotations

import functools
import sys
import time
from dataclasses import dataclass

# modules whose by-name imports of a traced function are rebound
PREFIXES = ("facebook_ads_bigquery_etl_spark", "perfbench")


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    op: int
    count: int = 0  # what the call handled, where a counter is given

    def as_dict(self) -> dict:
        return self.__dict__.copy()


class Tracer:
    """Records spans while ``active``; ``op`` tags every span with the
    op it belongs to. Driver-side only: the wrapped functions run on
    the Spark driver process, on the thread that runs the op."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op = -1
        self.active = False

    def span(self, name: str, layer: str):
        return _SpanCtx(self, name, layer)

    def wrap(self, fn, name: str, layer: str, count=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(name, layer) as ctx:
                if count is not None:
                    self.spans[ctx.index].count = count(args, kwargs)
                return fn(*args, **kwargs)

        return traced

    def rebind(self, module: str, attr: str, layer: str, count=None) -> None:
        """Rebind ``module.attr`` in that module and in every loaded
        module of the library or the benchmark that holds the same
        function object. ``count(args, kwargs)`` sets the span's
        count."""
        original = getattr(sys.modules[module], attr)
        traced = self.wrap(original, f"{module.rsplit('.', 1)[-1]}.{attr}", layer, count)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PREFIXES):
                continue
            if getattr(mod, attr, None) is original:
                setattr(mod, attr, traced)

    def insert(self, name: str, layer: str, start: float, end: float) -> None:
        """Add a span of the current op that ``time.time()`` placed at
        ``start``..``end``, as a child of the innermost span of the op
        around its midpoint, clipped to that span."""
        offset = time.time() - time.perf_counter()
        start, end = start - offset, end - offset
        mid = (start + end) / 2
        around = [
            i for i, s in enumerate(self.spans)
            if s.op == self.op and s.start <= mid <= s.end
        ]
        if around:
            # spans nest, so the latest-started one around mid is innermost
            parent = max(around, key=lambda i: self.spans[i].start)
            p = self.spans[parent]
            start, end = max(start, p.start), min(end, p.end)
            self.spans.append(Span(name, layer, start, end, parent, self.op))


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, layer: str):
        self.t, self.name, self.layer = tracer, name, layer

    def __enter__(self):
        t = self.t
        parent = t._stack[-1] if t._stack else None
        t.spans.append(Span(self.name, self.layer, time.perf_counter(), 0.0, parent, t.op))
        self.index = len(t.spans) - 1
        t._stack.append(self.index)
        return self

    def __exit__(self, *exc):
        t = self.t
        t.spans[t._stack.pop()].end = time.perf_counter()
        return False


def self_times(spans: list[Span], all_spans: list[Span]) -> dict[str, float]:
    """Per-layer self time of ``spans``: duration minus the union of
    the intervals its direct children cover."""
    index = {id(s): i for i, s in enumerate(all_spans)}
    children: dict[int, list[Span]] = {}
    for s in all_spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered, cur = 0.0, s.start
        for c in sorted(children.get(index[id(s)], ()), key=lambda c: c.start):
            lo, hi = max(c.start, cur), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cur = hi
        out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - covered
    return out
