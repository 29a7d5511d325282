"""In-memory spans around calls into the engine's layers.

A ``Tracer`` records one span per wrapped call: name, start, end,
parent and the id of the workload iteration it ran in. Spans stay in
memory and are handed out once, after the run (``records``). ``Tracer.patch``
replaces a module or class attribute with a timing wrapper and
``Tracer.restore`` puts every original back.

A disabled tracer still records the spans the harness opens itself
(setup phases, operations, verification): those give the end-to-end
walls. Only the per-layer wrappers are gated on ``enabled``.
"""
from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    iteration: int | None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.iteration: int | None = None
        self.overhead_s = 0.0
        self.wrapped_calls = 0
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent,
                               self.iteration))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def patch(self, owner, attr: str, name: str, after=None) -> None:
        """Wrap ``owner.attr`` in a span called ``name``. ``after(args,
        result)`` runs once the call returns, outside the span, and is
        billed to tracing overhead."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            tracer.wrapped_calls += 1
            with tracer.span(name):
                result = orig(*args, **kwargs)
            if after is not None:
                t = time.perf_counter()
                after(args, result)
                tracer.overhead_s += time.perf_counter() - t
            return result

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    # -- summaries ------------------------------------------------------

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def total(self, name: str) -> float:
        """Inclusive seconds in spans called ``name``, counting a span
        nested in another of the same name once."""
        out = 0.0
        for i, s in enumerate(self.spans):
            if s.name != name:
                continue
            p = s.parent
            while p is not None and self.spans[p].name != name:
                p = self.spans[p].parent
            if p is None:
                out += s.dur
        return out

    def self_times(self) -> dict[str, float]:
        """Seconds per span name with the children's share removed."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.dur
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child):
            out[s.name] = out.get(s.name, 0.0) + s.dur - c
        return out

    def unattributed(self, wall: float) -> float:
        """Part of ``wall`` (measured from ``t0``) under no span."""
        return wall - sum(s.dur for s in self.spans if s.parent is None)

    def records(self) -> list[dict]:
        """Every span as a dict, times in seconds from ``t0``."""
        return [{"name": s.name, "start": s.start - self.t0,
                 "end": s.end - self.t0, "parent": s.parent,
                 "iteration": s.iteration} for s in self.spans]
