"""In-memory span recorder for the traced benchmark run.

Spans are recorded around calls into the engine's public functions by
wrapping them at run time (``Tracer.wrap``); the untraced run installs no
wrappers. Each span has a name, start, end, parent span and request id, and
all spans stay in memory until ``dump`` writes them out at the end.
"""

from __future__ import annotations

import functools
import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    request: int | None
    n: int | None = None  # work count attached by the wrapper, if any

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.request: int | None = None
        self._stack: list[int] = []
        self._ids = itertools.count()
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        rec = Span(sid, name, time.perf_counter(), 0.0, parent, self.request)
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, count=None) -> None:
        """Replace ``owner.attr`` by a version that records a span named
        ``name`` per call. ``count(args, result)`` attaches a work count."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                out = orig(*args, **kwargs)
                if count is not None:
                    rec.n = count(args, out)
                return out

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def self_times(self, name: str) -> list[float]:
        """Self time (s) of every request span called ``name``: its duration
        minus the time its direct child spans cover."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child_s[s.parent] = child_s.get(s.parent, 0.0) + s.duration
        return [
            s.duration - child_s.get(s.id, 0.0)
            for s in self.named(name)
        ]

    def named(self, name: str, requests_only: bool = True) -> list[Span]:
        return [
            s
            for s in self.spans
            if s.name == name and (s.request is not None or not requests_only)
        ]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(asdict(s)) + "\n")


def span_cost_s(n: int = 20_000) -> float:
    """Measured cost of one wrapped call over an unwrapped one, in seconds
    on this host — the per-span share of the tracing overhead."""
    holder = type("Holder", (), {"f": staticmethod(lambda: None)})
    t0 = time.perf_counter()
    for _ in range(n):
        holder.f()
    bare = time.perf_counter() - t0
    tr = Tracer()
    tr.wrap(holder, "f", "noop")
    t0 = time.perf_counter()
    for _ in range(n):
        holder.f()
    return max(time.perf_counter() - t0 - bare, 0.0) / n
