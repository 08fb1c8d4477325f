"""In-memory spans around the calls into the engine's layers.

A span records its name, start, end, parent span and the item it belongs
to.  Spans stay in memory and are summarised when the run ends.
``install`` wraps a public function of the engine in every module namespace
that binds it, so a call through ``from ..session import materialize_once``
inside an operator module is traced as well as a call through the defining
module; the returned callable restores the originals.
"""

from __future__ import annotations

import functools
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from importlib import import_module


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    item: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Single-threaded span recorder (the benchmark has one closed-loop client)."""

    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.item: str | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(name, self.clock(), parent=parent, item=self.item, attrs=attrs)
        self.spans.append(s)
        self._stack.append(idx)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = self.clock()

    def wrap(self, fn, name: str, on_exit=None):
        """``fn`` inside a span; ``on_exit(span, args, kwargs, result)``
        may attach attributes after the call returns."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as s:
                out = fn(*args, **kwargs)
                if on_exit is not None:
                    on_exit(s, args, kwargs, out)
                return out

        return traced

    def wrap_context(self, cm_fn, name: str):
        """A context-manager factory whose ``with`` body runs inside a span."""

        @functools.wraps(cm_fn)
        @contextmanager
        def traced(*args, **kwargs):
            with self.span(name), cm_fn(*args, **kwargs) as v:
                yield v

        return traced


def install(targets: list[tuple[str, str, object]], package: str) -> callable:
    """Replace each ``module.attr`` by a wrapper, everywhere it is bound.

    ``targets`` holds ``(module, attr, make_wrapper)`` where
    ``make_wrapper(original)`` returns the replacement.  Every module under
    ``package`` that binds the same function object under any name gets the
    replacement.  Returns a function that puts the originals back."""
    undo: list[tuple[object, str, object]] = []
    for mod_name, attr, make_wrapper in targets:
        orig = getattr(import_module(mod_name), attr)
        wrapped = make_wrapper(orig)
        for name, mod in list(sys.modules.items()):
            if mod is None or not (name == package or name.startswith(package + ".")):
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, key, wrapped)
                    undo.append((mod, key, orig))

    def uninstall() -> None:
        for mod, key, orig in reversed(undo):
            setattr(mod, key, orig)

    return uninstall


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = []
    for i, s in enumerate(spans):
        covered = 0.0
        cur_end = s.start
        for c in sorted(children.get(i, ()), key=lambda c: c.start):
            lo, hi = max(c.start, cur_end), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cur_end = hi
        out.append(max(s.duration - covered, 0.0))
    return out


def layer_self_time(spans: list[Span]) -> dict[str, float]:
    """Self time summed per layer (the span name's first component)."""
    totals: dict[str, float] = {}
    for s, t in zip(spans, self_times(spans)):
        totals[s.layer] = totals.get(s.layer, 0.0) + t
    return totals


def span_summary(spans: list[Span]) -> dict[str, list]:
    """``[calls, total seconds, self seconds]`` per span name."""
    out: dict[str, list] = {}
    for s, t in zip(spans, self_times(spans)):
        row = out.setdefault(s.name, [0, 0.0, 0.0])
        row[0] += 1
        row[1] += s.duration
        row[2] += t
    return out
