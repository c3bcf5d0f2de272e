"""In-memory span recorder for the traced benchmark run.

A span is (name, start, end, parent, op id). Spans are kept in a list and
written out once, when the run ends. A layer's figure is its *self* time:
the span's duration minus the time its child spans cover.

Spans are recorded from the benchmark's own files only. ``instrument``
rebinds the package's cross-layer functions (``load_table``,
``register_tables``, ``lineage.cut``) in every package module that imported
them by name, and restores the originals on exit, so no package file
changes.
"""

from __future__ import annotations

import contextlib
import functools
import sys
import time
from collections import defaultdict
from collections.abc import Callable, Iterator


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: str | None = None

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[None]:
        idx = len(self.spans)
        self.spans.append(
            {
                "name": name,
                "start": time.perf_counter(),
                "end": None,
                "parent": self._stack[-1] if self._stack else None,
                "op": self.op_id,
            }
        )
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    def wrap(self, name: str, fn: Callable) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def self_times(self) -> dict[str, float]:
        """Total self time per span name. Children of one span run one after
        another on the main Python thread, so their durations do not overlap."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s["name"]] += (s["end"] - s["start"]) - child[i]
        return dict(out)

    def calls(self) -> dict[str, int]:
        out: dict[str, int] = defaultdict(int)
        for s in self.spans:
            out[s["name"]] += 1
        return dict(out)


@contextlib.contextmanager
def instrument(tracer: Tracer, package: str, targets: dict[str, Callable]) -> Iterator[None]:
    """Rebind every module-level name in ``package.*`` that refers to one of
    ``targets`` (span name -> function) to a traced wrapper; restore on
    exit. Matching is by identity, so aliases such as
    ``from ..lineage import cut as lineage_cut`` are found too."""
    wrapped = {id(fn): tracer.wrap(name, fn) for name, fn in targets.items()}
    undo: list[tuple[object, str, Callable]] = []
    try:
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == package or mod_name.startswith(package + ".")):
                continue
            for attr, value in list(vars(mod).items()):
                if callable(value) and id(value) in wrapped:
                    undo.append((mod, attr, value))
                    setattr(mod, attr, wrapped[id(value)])
        yield
    finally:
        for mod, attr, value in reversed(undo):
            setattr(mod, attr, value)
