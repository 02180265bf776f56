"""In-memory span tracing for the traced benchmark run.

Spans are recorded from the benchmark's own files, around calls into a
layer's public functions: ``patched`` swaps a module attribute for a
timing wrapper for the duration of a ``with`` block, so the program
under test is unchanged and untraced runs pay nothing.

A span is (id, parent, name, start, end); all spans of one run share
the tracer's ``run_id``. The layer of a span is its name up to the
first dot. A span's self time is its duration minus the part of its
interval that its children cover.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
import uuid
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    parent: int
    name: str
    start: float
    end: float


class Tracer:
    def __init__(self) -> None:
        self.run_id = uuid.uuid4().hex
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[int] = []
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        # a span opened on a callback thread (foreachBatch) hangs under
        # whatever the main thread has open (read from a snapshot)
        main = list(self._main_stack)
        parent = stack[-1] if stack else (main[-1] if main else 0)
        with self._lock:
            sid = next(self._ids)
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, parent, name, start, end))

    def wrap(self, name, fn):
        """``fn`` inside a span; ``name`` is a string or a function of
        the call's arguments that returns one."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name(*args, **kwargs) if callable(name) else name):
                return fn(*args, **kwargs)

        return traced

    def self_times(self) -> dict[int, float]:
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            children.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered, cursor = 0.0, s.start
            for c in sorted(children.get(s.id, ()), key=lambda c: c.start):
                lo, hi = max(c.start, cursor), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s.id] = (s.end - s.start) - covered
        return out

    def self_time_by_layer(self, roots: set[str]) -> dict[str, float]:
        """Self time per layer, summed over the spans named in ``roots``
        and everything they caused."""
        st = self.self_times()
        by_id = {s.id: s for s in self.spans}

        def under_root(s: Span) -> bool:
            while s is not None:
                if s.name in roots:
                    return True
                s = by_id.get(s.parent)
            return False

        out: dict[str, float] = {}
        for s in self.spans:
            if under_root(s):
                layer = s.name.split(".", 1)[0]
                out[layer] = out.get(layer, 0.0) + st[s.id]
        return out

    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps({"run_id": self.run_id, **asdict(s)}) + "\n")


@contextmanager
def patched(tracer: Tracer, targets):
    """Wrap ``getattr(owner, attr)`` in a span called ``name`` (see
    ``Tracer.wrap``) for every (owner, attr, name) in ``targets``; restore
    the originals on exit."""
    saved = []
    try:
        for owner, attr, name in targets:
            fn = getattr(owner, attr)
            saved.append((owner, attr, fn))
            setattr(owner, attr, tracer.wrap(name, fn))
        yield
    finally:
        for owner, attr, fn in reversed(saved):
            setattr(owner, attr, fn)
