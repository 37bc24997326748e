"""Spans around calls into the engine's layers, recorded from outside.

``Tracer.install`` replaces public functions of the ``operators``,
``store``, ``streaming`` and ``io`` modules with wrappers that record a
span per call: name, start, end, parent span and the range of Spark job
ids submitted while it was open. It must run before
``agrobr_spark.queries`` is imported, so that module-level
``from ... import f`` bindings pick up the wrapper; function-local
imports resolve the module attribute at call time and need nothing
more.

Parenting: a span's parent is the innermost open span of its own
thread, or, for a thread that has none (pool threads, stream
``foreachBatch`` callbacks), the innermost open span of the benchmark's
main thread, which is what waits on that thread. Self time is a span's
duration minus the union of the intervals its child spans cover.
"""

from __future__ import annotations

import functools
import importlib
import sys
import threading
import time
from dataclasses import dataclass, field

# (span name, module, attribute path); the span name is also the prefix
# of the function's per-layer metrics
WRAPPED = [
    ("operators.components.connected_components",
     "agrobr_spark.operators.components", "connected_components"),
    ("store.posting.bm25_topk_indexed",
     "agrobr_spark.store.posting", "bm25_topk_indexed"),
    ("store.table.ParquetStore.merge_upsert",
     "agrobr_spark.store.table", "ParquetStore.merge_upsert"),
    ("streaming.windows.drain_or_raise",
     "agrobr_spark.streaming.windows", "drain_or_raise"),
    ("io.load", "agrobr_spark.io", "load"),
]


@dataclass(eq=False)
class Span:
    name: str
    parent: "Span | None"
    start: float
    job_start: int
    end: float = 0.0
    job_end: int = 0
    children: list["Span"] = field(default_factory=list)
    args: tuple = ()

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def jobs(self) -> int:
        return self.job_end - self.job_start

    @property
    def self_s(self) -> float:
        """Duration minus the union of the child spans' intervals."""
        covered, cur = 0.0, self.start
        for a, b in sorted((c.start, c.end) for c in self.children):
            a, b = max(a, cur), min(b, self.end)
            if b > a:
                covered += b - a
                cur = b
        return self.dur - covered


class Tracer:
    def __init__(self):
        self.next_job_id = lambda: 0  # set once the session exists
        self.enabled = False
        self.finished: list[Span] = []
        self._local = threading.local()
        self._main = self._local.stack = []
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def begin(self, name: str, args: tuple = ()) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else (self._main[-1] if self._main else None)
        span = Span(name, parent, time.perf_counter(), self.next_job_id(), args=args)
        stack.append(span)
        return span

    def end(self, span: Span) -> None:
        span.job_end = self.next_job_id()
        span.end = time.perf_counter()
        self._stack().remove(span)
        with self._lock:
            if span.parent is not None:
                span.parent.children.append(span)
            self.finished.append(span)

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            span = tracer.begin(name, args[1:3] if name == "io.load" else ())
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(span)

        return traced

    def install(self) -> list[str]:
        """Wrap every function in ``WRAPPED``; return the span names."""
        if "agrobr_spark.queries" in sys.modules:
            raise RuntimeError("install wrappers before importing agrobr_spark.queries")
        swaps = {}
        for name, mod_name, path in WRAPPED:
            owner = importlib.import_module(mod_name)
            *outer, attr = path.split(".")
            for part in outer:
                owner = getattr(owner, part)
            orig = getattr(owner, attr)
            wrapped = self._wrap(orig, name)
            setattr(owner, attr, wrapped)
            swaps[id(orig)] = (orig, wrapped)
        # modules imported above may already hold the original under a
        # module-level `from ... import` binding; point those at the wrapper
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("agrobr_spark"):
                continue
            for key, val in list(vars(mod).items()):
                hit = swaps.get(id(val))
                if hit is not None and hit[0] is val:
                    setattr(mod, key, hit[1])
        return [name for name, _, _ in WRAPPED]
