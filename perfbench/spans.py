"""Spans around calls into the engine's layers, recorded from outside.

``Tracer.patch`` replaces named public functions of the engine package
with wrappers that open a span around each call, in every loaded module
that holds a reference to them, and restores them on exit. Nothing is
patched unless a traced run asks for it.

A span holds its name, start, end, parent and the status-store counter
deltas over its interval. Spans stay in memory; ``dump`` writes them
out. ``self_stats`` subtracts from each span the time its child spans
cover and the counters they account for.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import itertools
import json
import sys
import threading
import time
from dataclasses import asdict, dataclass

from counters import FIELDS, StatusCounters, delta

PKG = "graphragdatapipeline_spark"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float
    pass_no: int
    counts: dict[str, int]


class Tracer:
    def __init__(self, counters: StatusCounters) -> None:
        self.counters = counters
        self.spans: list[Span] = []
        self.pass_no = 0
        self._ids = itertools.count()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[int] = []
        self._lock = threading.Lock()
        self._active = False

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        # a span opened on an engine pool thread belongs to whatever
        # the client thread is inside
        outer = stack or self._main_stack
        parent = outer[-1] if outer else None
        sid = next(self._ids)
        c0 = self.counters.snapshot()
        t0 = time.perf_counter()
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            t1 = time.perf_counter()
            counts = delta(self.counters.snapshot(), c0)
            with self._lock:
                self.spans.append(
                    Span(sid, name, parent, t0, t1, self.pass_no, counts)
                )

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self._active:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    @contextlib.contextmanager
    def patch(self, targets: dict[str, str]):
        """``targets`` maps a span name to ``module:function`` inside
        the engine package.

        Every target module is imported before anything is patched, so
        no module imported along the way binds a wrapper that the exit
        would not restore; a wrapper that escapes anyway records
        nothing outside the ``with`` block."""
        traced = {}
        for name, target in targets.items():
            mod_name, fn_name = target.split(":")
            orig = getattr(importlib.import_module(f"{PKG}.{mod_name}"), fn_name)
            traced[id(orig)] = (orig, self.wrap(name, orig))
        undo = []
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith(PKG):
                continue
            for attr, val in list(vars(mod).items()):
                if id(val) in traced and traced[id(val)][0] is val:
                    setattr(mod, attr, traced[id(val)][1])
                    undo.append((mod, attr, val))
        self._active = True
        try:
            yield
        finally:
            self._active = False
            for mod, attr, orig in undo:
                setattr(mod, attr, orig)

    def self_stats(self) -> list[dict]:
        """Per span: self wall seconds and self counter deltas."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out = []
        for s in self.spans:
            covered, edge = 0.0, s.start
            counts = dict(s.counts)
            for c in sorted(kids.get(s.id, ()), key=lambda c: c.start):
                lo, hi = max(c.start, edge), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    edge = hi
                for k in FIELDS:
                    counts[k] = max(0, counts[k] - c.counts[k])
            out.append(
                {
                    "name": s.name,
                    "pass": s.pass_no,
                    "self_s": (s.end - s.start) - covered,
                    **counts,
                }
            )
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
