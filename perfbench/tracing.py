"""In-memory span recorder used by ``--trace 1`` runs.

Spans are recorded from the benchmark's own files around calls into each
layer's public functions: :func:`instrument` swaps a function (or method)
for a wrapper that opens a span, in every ``pandas_td_spark`` module that
holds a reference to it, so the program's own call paths are unchanged.
A span is ``[name, start, end, parent index, op id]``; spans stay in
memory and :meth:`Tracer.dump` writes them out when the run ends.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[list] = []
        self.op_id: int | None = None
        self._stack: list[int] = []
        #: seconds spent in the tracer's own bookkeeping
        self.overhead_s = 0.0
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        rec = [name, 0.0, 0.0, self._stack[-1] if self._stack else None, self.op_id]
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        rec[1] = t1 = time.perf_counter()
        self.overhead_s += t1 - t0
        try:
            yield
        finally:
            t2 = time.perf_counter()
            rec[2] = t2
            self._stack.pop()
            self.overhead_s += time.perf_counter() - t2

    def instrument(self, module, attr: str, name: str) -> None:
        """Wrap ``module.attr`` (a function, or ``Class.method`` when
        ``module`` is a class) in a span named ``name``, under every name
        the ``pandas_td_spark`` package binds the same object to."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        bindings = [(module, attr)] + [
            (m, a)
            for k, m in list(sys.modules.items())
            if k.startswith("pandas_td_spark") and m is not module
            for a, v in list(vars(m).items())
            if v is orig
        ]
        for owner, a in bindings:
            self._patched.append((owner, a, orig))
            setattr(owner, a, wrapper)

    def uninstrument(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def self_times(self) -> dict[str, float]:
        """Per span name: summed self time (span duration minus the time
        its direct children cover; spans nest, one thread)."""
        child = [0.0] * len(self.spans)
        for name, s, e, parent, _ in self.spans:
            if parent is not None:
                child[parent] += e - s
        out: dict[str, float] = defaultdict(float)
        for i, (name, s, e, _, _) in enumerate(self.spans):
            out[name] += (e - s) - child[i]
        return dict(out)

    def totals(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for name, s, e, _, _ in self.spans:
            out[name] += e - s
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for name, s, e, parent, op in self.spans:
                fh.write(
                    json.dumps(
                        {"name": name, "start": s, "end": e, "parent": parent, "op": op}
                    )
                    + "\n"
                )
