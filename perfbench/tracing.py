"""Spans recorded from the benchmark's own process.

A span holds a name, a layer, start and end (perf_counter seconds), the
id of the span that caused it, and the query it belongs to. Spans stay in
memory until the run writes them out.

``install_api_wrappers`` wraps, at import and without editing the
program, every public function and class method of the engine's API
subpackages. A wrapper records a span only for the outermost call into
its subpackage (a call from inside the same subpackage is not a new
span), and only while the tracer is enabled.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import itertools
import pkgutil
import sys
import threading
import time

API_SUBPACKAGES = (
    "table", "matrixtable", "vds", "expr", "operators",
    "methods", "linalg", "io", "llmdata", "streaming",
)


class Tracer:
    def __init__(self):
        self.enabled = False
        self.query: str | None = None
        self.spans: list[dict] = []
        self._ids = itertools.count()
        self._local = threading.local()

    def __reduce__(self):
        # A wrapped function can be pickled by value into a Python worker;
        # there it gets a fresh, disabled tracer instead of this one.
        return (Tracer, ())

    def _stack(self) -> list[dict]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        rec = {
            "id": next(self._ids), "name": name, "layer": layer,
            "start": time.perf_counter(), "end": None,
            "parent": stack[-1]["id"] if stack else None, "query": self.query,
        }
        self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            stack = self._stack()
            if stack and stack[-1]["layer"] == layer:
                return fn(*args, **kwargs)
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return traced


def self_times(spans: list[dict]) -> dict[str, dict[str, float]]:
    """{layer: {"self_s": ..., "calls": ...}}; a span's self time is its
    duration minus the time its child spans cover."""
    child_s: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        agg = out.setdefault(s["layer"], {"self_s": 0.0, "calls": 0})
        agg["self_s"] += s["end"] - s["start"] - child_s.get(s["id"], 0.0)
        agg["calls"] += 1
    return out


def _api_modules(package: str):
    for sub in API_SUBPACKAGES:
        mod = importlib.import_module(f"{package}.{sub}")
        yield sub, mod
        for info in pkgutil.walk_packages(getattr(mod, "__path__", []), f"{mod.__name__}."):
            yield sub, importlib.import_module(info.name)


def _wrap_class(tracer: Tracer, cls, layer: str, wrapped: dict) -> None:
    for attr, value in list(vars(cls).items()):
        if attr.startswith("_"):
            continue
        name = f"{cls.__module__}.{cls.__qualname__}.{attr}"
        if isinstance(value, (staticmethod, classmethod)):
            func = value.__func__
        elif isinstance(value, property):
            func = value.fget
        else:
            func = value
        if not inspect.isfunction(func):
            continue
        w = tracer.wrap(func, name, layer)
        if isinstance(value, (staticmethod, classmethod)):
            new = type(value)(w)
        elif isinstance(value, property):
            new = property(w, value.fset, value.fdel, value.__doc__)
        else:
            new = w
        try:
            setattr(cls, attr, new)
        except (AttributeError, TypeError):
            continue
        wrapped[id(func)] = w


def install_api_wrappers(tracer: Tracer, package: str = "hail_spark") -> int:
    """Wrap the public functions and class methods defined in each API
    subpackage; returns how many were wrapped. Names that other
    engine modules re-export are rebound to the same wrapper."""
    wrapped: dict[int, object] = {}
    for sub, mod in _api_modules(package):
        for attr, value in list(vars(mod).items()):
            if attr.startswith("_") or getattr(value, "__module__", None) != mod.__name__:
                continue
            if inspect.isfunction(value):
                wrapped[id(value)] = tracer.wrap(value, f"{mod.__name__}.{attr}", sub)
                setattr(mod, attr, wrapped[id(value)])
            elif inspect.isclass(value):
                _wrap_class(tracer, value, sub, wrapped)
    for name, mod in list(sys.modules.items()):
        if name != package and not name.startswith(f"{package}."):
            continue
        for attr, value in list(vars(mod).items()):
            if inspect.isfunction(value) and id(value) in wrapped:
                setattr(mod, attr, wrapped[id(value)])
    return len(wrapped)
