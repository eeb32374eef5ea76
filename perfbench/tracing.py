"""Span recorder for the traced benchmark run.

The engine is instrumented from the outside: :meth:`Tracer.install` replaces
public entry points (module functions and class methods) with wrappers that
record a span per call — name, request id, parent span, start, end — and
:meth:`Tracer.uninstall` puts the originals back.  Spans stay in memory.  A
span's self time is its duration minus the time its child spans cover; the
calls are synchronous on one thread, so children never overlap.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    name: str
    req: object  # request id, or a phase label ("setup", "cycle3", ...)
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000

    @property
    def layer(self) -> str:
        """``query.executor.warm_postings`` → ``query.executor``."""
        return self.name.rsplit(".", 1)[0]


class Tracer:
    def __init__(self, targets: list[tuple[object, str, str]]):
        """``targets``: (owner, attribute, span name) for every entry point to
        wrap; the owner is a module or a class."""
        self.targets = targets
        self.spans: list[Span] = []
        self.req: object = None
        self._stack: list[int] = []
        self._originals: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(sid, name, self.req, parent, time.perf_counter())
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def _wrapper(self, original, name: str):
        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        return traced

    def install(self) -> None:
        if self._originals:
            return
        for owner, attr, name in self.targets:
            original = getattr(owner, attr)
            self._originals.append((owner, attr, original))
            setattr(owner, attr, self._wrapper(original, name))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._originals):
            setattr(owner, attr, original)
        self._originals.clear()

    def of(self, req) -> list[Span]:
        return [s for s in self.spans if s.req == req]


def self_ms_by_layer(spans: list[Span]) -> dict[str, float]:
    """Self time per layer over ``spans``, which must hold every child of
    each span in it (as the spans of one request or phase do)."""
    child_ms: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            child_ms[s.parent] = child_ms.get(s.parent, 0.0) + s.ms
    out: dict[str, float] = {}
    for s in spans:
        out[s.layer] = out.get(s.layer, 0.0) + s.ms - child_ms.get(s.sid, 0.0)
    return out
