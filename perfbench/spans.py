"""Spans around calls into the engine's layers, recorded from outside.

The benchmark never edits an engine module. It replaces a layer's
public function, in every package module that bound it by name, with a
wrapper that records a span (name, start, end, parent, op id) when
tracing is on and calls straight through when it is off. Spans are kept
in memory and written out once, when the run ends.

Only the benchmark's own thread records spans: streaming callbacks run
on Py4J callback threads, and their cost is already inside the span of
the main-thread call that waits for them.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.on = False
        self.op_id: int | None = None
        self.spans: list[tuple[str, float, float, int | None, int | None]] = []
        self._stack: list[int] = []
        self._main = threading.get_ident()

    @contextmanager
    def span(self, name: str):
        if not self.on or threading.get_ident() != self._main:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append((name, time.perf_counter(), 0.0, parent, self.op_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            _, start, _, parent, op = self.spans[idx]
            self.spans[idx] = (name, start, time.perf_counter(), parent, op)

    def wrap(self, module, attr: str, name: str, package: str) -> None:
        """Replace ``module.attr`` and every other binding of the same
        function object in ``package``'s loaded modules."""
        original = getattr(module, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith(
                    package):
                continue
            for key, val in list(vars(mod).items()):
                if val is original:
                    setattr(mod, key, traced)

    def layer_totals(self) -> dict[str, dict[str, float]]:
        """name -> {"n", "total_s", "self_s"}; self time is a span's
        duration minus the time its direct children cover."""
        child_s = [0.0] * len(self.spans)
        for _name, start, end, parent, _op in self.spans:
            if parent is not None:
                child_s[parent] += end - start
        out: dict[str, dict[str, float]] = {}
        for i, (name, start, end, _parent, _op) in enumerate(self.spans):
            d = out.setdefault(name, {"n": 0, "total_s": 0.0, "self_s": 0.0})
            d["n"] += 1
            d["total_s"] += end - start
            d["self_s"] += end - start - child_s[i]
        return out

    def coverage(self, root: str) -> float:
        """Share of the ``root`` spans' wall covered by their children."""
        wall = sum(end - start for name, start, end, _parent, _op
                   in self.spans if name == root)
        covered = sum(end - start for _name, start, end, parent, _op
                      in self.spans
                      if parent is not None and self.spans[parent][0] == root)
        return covered / wall if wall else 0.0

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([{"name": n, "start": s, "end": e, "parent": p,
                        "op": o} for n, s, e, p, o in self.spans], fh)
