"""Outside spans around the engine's public layer functions.

In the traced run only, ``Tracer.install`` replaces the public functions
of ``io`` (``load_table``, ``materialize``, ``broadcast_if_small``), of
the operator modules, and the streaming ingests' ``process_batch`` with
wrappers that record (name, start, end, parent) in memory. ``queries``
binds ``load_table`` at import and operator modules bind ``io`` helpers
at theirs, so every already-imported ``pystreams_spark`` module
attribute that refers to a wrapped function is re-pointed too; operator
modules that queries import inside their bodies then resolve the
wrappers at call time.

While a span is open its id is the ``perfbench.span`` local property,
so the event log names the innermost span behind every Spark job.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import threading
import time
from dataclasses import dataclass

from eventlog import SPAN_KEY

IO_FUNCS = ("load_table", "materialize", "broadcast_if_small")
OPERATOR_MODULES = ("dedup", "similarity", "sketches", "graph", "selection", "retrieval")
INGESTS = {
    "neardup": ("pystreams_spark.streaming.neardup_ingest", "NeardupIngest"),
    "novelty": ("pystreams_spark.streaming.novelty_ingest", "NoveltyIngest"),
}


@dataclass
class Span:
    name: str
    start: float
    end: float | None
    parent: int | None


def _public_functions(mod) -> dict[str, object]:
    return {
        k: v for k, v in vars(mod).items()
        if callable(v) and not k.startswith("_") and not isinstance(v, type)
        and getattr(v, "__module__", None) == mod.__name__
    }


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = tracer._stack()
            parent = stack[-1] if stack else None
            span = Span(name, time.perf_counter(), None, parent)
            with tracer._lock:
                sid = len(tracer.spans)
                tracer.spans.append(span)
            stack.append(sid)
            tracer.sc.setLocalProperty(SPAN_KEY, str(sid))
            try:
                return fn(*args, **kwargs)
            finally:
                span.end = time.perf_counter()
                stack.pop()
                tracer.sc.setLocalProperty(
                    SPAN_KEY, None if parent is None else str(parent)
                )

        return traced

    def _set(self, owner, attr: str, value) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def install(self) -> None:
        wrappers: dict[int, object] = {}
        io = importlib.import_module("pystreams_spark.io")
        for fn_name in IO_FUNCS:
            wrappers[id(getattr(io, fn_name))] = self.wrap(f"io.{fn_name}", getattr(io, fn_name))
        for mod_name in OPERATOR_MODULES:
            mod = importlib.import_module(f"pystreams_spark.operators.{mod_name}")
            for fn_name, fn in _public_functions(mod).items():
                wrappers[id(fn)] = self.wrap(f"operators.{mod_name}.{fn_name}", fn)
        for mod in [m for k, m in sys.modules.items()
                    if k.startswith("pystreams_spark") and m is not None]:
            for attr, value in list(vars(mod).items()):
                if id(value) in wrappers and not attr.startswith("__"):
                    self._set(mod, attr, wrappers[id(value)])
        for short, (mod_name, cls_name) in INGESTS.items():
            cls = getattr(importlib.import_module(mod_name), cls_name)
            self._set(cls, "process_batch",
                      self.wrap(f"streaming.{short}", cls.process_batch))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def self_times(self) -> list[float]:
        """Each span's duration minus the time its direct children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        return [s.end - s.start - c for s, c in zip(self.spans, child)]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([[s.name, s.start, s.end, s.parent] for s in self.spans], f)
