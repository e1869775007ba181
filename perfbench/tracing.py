"""Span tracer that wraps the package's layer entry points from outside.

``Tracer.install`` replaces, for the life of the process, every public
function of each layer module (and every other module's binding of the
same object), every public method of the layer classes, and every
registry callable, with a wrapper that records a span. Nothing in the
package's files changes. Spans are kept in memory and written as JSON
when the run ends. ``Tracer.enable(False)`` puts every original back and
``enable(True)`` the wrappers again, so one run can time rounds with and
without tracing.

A span is ``(id, parent, layer, name, start, end)``; a layer's *self*
time is its spans' durations minus the time their child spans cover.
Spans nest per thread, so the streaming callback thread gets its own
stack.
"""

from __future__ import annotations

import functools
import inspect
import json
import sys
import threading
import time
from collections import defaultdict

#: layer -> modules whose public functions are that layer's entry points
LAYER_MODULES = {
    "session": ["datawarehouse_spark.session"],
    "catalog": ["datawarehouse_spark.catalog"],
    "plans": ["datawarehouse_spark.plans.advisor",
              "datawarehouse_spark.plans.parity"],
    "operators.text": ["datawarehouse_spark.operators.text"],
    "operators.dedup": ["datawarehouse_spark.operators.dedup"],
    "operators.similarity": ["datawarehouse_spark.operators.similarity"],
    "sources": ["datawarehouse_spark.sources.snapshot",
                "datawarehouse_spark.sources.io"],
    "streaming": ["datawarehouse_spark.streaming.core",
                  "datawarehouse_spark.streaming.corpus"],
}
#: layer -> (module, class) whose public methods are entry points
LAYER_CLASSES = {
    "engine": [("datawarehouse_spark.engine", "DataWarehouse")],
    "sources": [("datawarehouse_spark.sources.snapshot", "SnapshotTable")],
}


class Tracer:
    def __init__(self):
        self.spans: list[tuple] = []
        self._local = threading.local()
        self._ids = iter(range(1, 1 << 62))
        self._lock = threading.Lock()
        #: (namespace, name, original, wrapper) of every replaced binding
        self._patches: list[tuple[object, str, object, object]] = []
        self.active = False

    # -- spans -------------------------------------------------------------
    def span(self, layer: str, name: str):
        return _Span(self, layer, name)

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def wrap(self, layer: str, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(layer, name):
                return fn(*args, **kwargs)

        traced.__perfbench_traced__ = True
        return traced

    def enable(self, on: bool) -> None:
        for target, name, original, wrapper in self._patches:
            _bind(target, name, wrapper if on else original)
        self.active = on

    def _patch(self, target, name: str, wrapper) -> None:
        original = target[name] if isinstance(target, dict) else vars(target)[name]
        self._patches.append((target, name, original, wrapper))
        _bind(target, name, wrapper)

    def mark(self) -> int:
        return len(self.spans)

    def self_times(self, since: int = 0) -> dict[str, float]:
        """Self time per layer over the spans recorded after ``since``."""
        spans = self.spans[since:]
        child_total: dict[int, float] = defaultdict(float)
        for _sid, parent, _layer, _name, t0, t1 in spans:
            if parent:
                child_total[parent] += t1 - t0
        out: dict[str, float] = defaultdict(float)
        for sid, _parent, layer, _name, t0, t1 in spans:
            out[layer] += (t1 - t0) - child_total.get(sid, 0.0)
        return out

    def count(self, layer: str, name: str | None = None, since: int = 0) -> int:
        return sum(1 for s in self.spans[since:]
                   if s[2] == layer and (name is None or s[3] == name))

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"fields": ["id", "parent", "layer", "name", "start",
                                  "end"], "spans": self.spans}, fh)

    # -- installation --------------------------------------------------------
    def install(self) -> None:
        import importlib

        import datawarehouse_spark.queries as queries

        for modname in [m for mods in LAYER_MODULES.values() for m in mods] + [
                m for classes in LAYER_CLASSES.values() for m, _ in classes]:
            importlib.import_module(modname)
        replaced: dict[int, object] = {}
        for layer, mods in LAYER_MODULES.items():
            for modname in mods:
                mod = sys.modules[modname]
                for name, obj in list(vars(mod).items()):
                    if (name.startswith("_") or not inspect.isfunction(obj)
                            or obj.__module__ != modname):
                        continue
                    replaced[id(obj)] = self.wrap(layer, name, obj)
        for layer, classes in LAYER_CLASSES.items():
            for modname, clsname in classes:
                cls = getattr(sys.modules[modname], clsname)
                for name, obj in list(vars(cls).items()):
                    if name.startswith("_"):
                        continue
                    if inspect.isfunction(obj):
                        self._patch(cls, name, self.wrap(layer, f"{clsname}.{name}", obj))
                    elif isinstance(obj, classmethod):
                        self._patch(cls, name, classmethod(self.wrap(
                            layer, f"{clsname}.{name}", obj.__func__)))
        for reg in (queries.QUERIES_RAW, queries.QUERIES):
            for name, fn in list(reg.items()):
                if id(fn) not in replaced:
                    replaced[id(fn)] = self.wrap("queries", name, fn)
                self._patch(reg, name, replaced[id(fn)])
        # rebind every module-level name that refers to a wrapped object,
        # so `from x import f` bindings and callable-to-callable calls are
        # traced too
        for modname, mod in list(sys.modules.items()):
            if not modname.startswith("datawarehouse_spark") or mod is None:
                continue
            for name, obj in list(vars(mod).items()):
                w = replaced.get(id(obj))
                if w is not None:
                    self._patch(mod, name, w)
        self.active = True


def _bind(target, name: str, value) -> None:
    if isinstance(target, dict):
        target[name] = value
    else:
        setattr(target, name, value)


class _Span:
    __slots__ = ("tracer", "layer", "name", "sid", "parent", "t0")

    def __init__(self, tracer: Tracer, layer: str, name: str):
        self.tracer = tracer
        self.layer = layer
        self.name = name

    def __enter__(self):
        tr = self.tracer
        st = tr._stack()
        with tr._lock:
            self.sid = next(tr._ids)
        self.parent = st[-1] if st else 0
        st.append(self.sid)
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        t1 = time.perf_counter()
        tr = self.tracer
        tr._stack().pop()
        with tr._lock:
            tr.spans.append((self.sid, self.parent, self.layer, self.name,
                             self.t0, t1))
        return False
