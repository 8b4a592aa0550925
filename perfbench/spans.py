"""Spans around calls into the package's layers, recorded from the
benchmark's own files: the benchmark swaps a module attribute for a
timing wrapper, runs the operation, and restores the attribute.

Spans are kept in memory. Each holds the layer name, the start and end
times, and the nesting depth on its thread, so a call made inside another
wrapped call is not counted twice.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import threading
import time
from dataclasses import dataclass


@dataclass(frozen=True)
class Span:
    name: str
    start: float
    end: float
    depth: int

    @property
    def s(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            depth = getattr(self._local, "depth", 0)
            self._local.depth = depth + 1
            start = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                end = time.perf_counter()
                self._local.depth = depth
                with self._lock:
                    self.spans.append(Span(name, start, end, depth))

        return traced

    @contextlib.contextmanager
    def patched(self, targets: dict[str, str]):
        """targets: "package.module:attr" → span name. Every attribute is
        restored on exit, also when the operation raises."""
        saved = []
        try:
            for target, name in targets.items():
                mod_name, attr = target.split(":")
                mod = importlib.import_module(mod_name)
                saved.append((mod, attr, getattr(mod, attr)))
                setattr(mod, attr, self.wrap(getattr(mod, attr), name))
            yield self
        finally:
            for mod, attr, original in reversed(saved):
                setattr(mod, attr, original)

    def total(self, name: str) -> float:
        """Seconds spent in calls named ``name`` that are not nested in
        another wrapped call."""
        return sum(sp.s for sp in self.spans if sp.name == name and sp.depth == 0)

    def count(self, name: str) -> int:
        return sum(1 for sp in self.spans if sp.name == name)

    def ends(self, name: str) -> list[float]:
        return sorted(sp.end for sp in self.spans if sp.name == name)
