"""Spans and counters recorded from outside the engine.

The tracer never edits the package: :func:`install` wraps public entry
points (``batch_apply``, ``ParquetStateTable.merge/init/lookup``, every
``LocalFS`` method, and the function handed to ``foreachBatch``) with
wrappers that open a span around the original call. Spans live in
memory and are written out once, by :meth:`Tracer.dump`.

A span's self time is its duration minus the part of its interval that
its children cover (:func:`self_time`).
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    batch: int | None = None
    phase: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
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


def self_time(span: Span, spans: list[Span]) -> float:
    """Duration of ``span`` minus the part its direct children cover."""
    kids = [(s.start, s.end) for s in spans if s.parent == span.id]
    return span.duration - covered(kids, span.start, span.end)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.phase = "setup"
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, batch: int | None = None, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else None
        if batch is None and parent is not None:
            batch = parent.batch
        s = Span(
            id=next(self._ids),
            name=name,
            start=time.perf_counter(),
            parent=parent.id if parent else None,
            batch=batch,
            phase=self.phase,
            attrs=attrs,
        )
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(s)

    def named(self, name: str, phase: str | None = None) -> list[Span]:
        return [s for s in self.spans if s.name == name and (phase is None or s.phase == phase)]

    def descendants(self, root: Span) -> list[Span]:
        by_parent: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                by_parent.setdefault(s.parent, []).append(s)
        out, todo = [], [root.id]
        while todo:
            for kid in by_parent.get(todo.pop(), []):
                out.append(kid)
                todo.append(kid.id)
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": [asdict(s) for s in self.spans], **extra}, fh)


class Patches:
    """Attribute replacements, undone in reverse order by :meth:`undo`."""

    def __init__(self) -> None:
        self._saved: list[tuple[object, str, object]] = []

    def wrap(self, owner: object, attr: str, make):
        original = getattr(owner, attr)
        self._saved.append((owner, attr, original))
        setattr(owner, attr, make(original))

    def undo(self) -> None:
        while self._saved:
            owner, attr, original = self._saved.pop()
            setattr(owner, attr, original)
