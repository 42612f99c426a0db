"""In-memory spans for the traced run.

A :class:`Tracer` records ``(id, parent, name, start, end)`` spans.  The
benchmark opens one span per operator call; :meth:`Tracer.install`
additionally wraps the driver-side public functions of
``bloomjoin_spark.aggregate``, ``bloomjoin_spark.plans.planner`` and the
sketch classes' methods, in every module namespace that imported them,
so their calls become child spans.  The wrappers live only in the
benchmark's process; Spark's Python workers import the package afresh
and never see them.  :meth:`Tracer.uninstall` puts the originals back.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

#: modules whose public functions become child spans, with the layer
#: name their spans are reported under
WRAPPED_MODULES = {
    "bloomjoin_spark.aggregate": "aggregate",
    "bloomjoin_spark.plans.planner": "plans",
}
#: sketch classes whose public methods become child spans
WRAPPED_SKETCHES = ("BloomSketch", "HllSketch", "CmsSketch", "KllSketch",
                    "TDigestSketch")


class Tracer:
    def __init__(self):
        self.spans: list[tuple[int, int | None, str, float, float]] = []
        self._stack: list[int] = []
        self._next = 0
        self._saved: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.spans.append((sid, parent, name, t0, t1))

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        wrapper.__pb_wrapped__ = fn
        return wrapper

    def _patch(self, owner, attr: str, new) -> None:
        self._saved.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def install(self) -> None:
        """Wrap the layer functions everywhere the package refers to them."""
        if self._saved:
            return
        originals: dict[int, object] = {}
        for modname, layer in WRAPPED_MODULES.items():
            mod = importlib.import_module(modname)
            for attr, fn in list(vars(mod).items()):
                if (attr.startswith("_") or not inspect.isfunction(fn)
                        or fn.__module__ != modname):
                    continue
                wrapped = self._wrap(fn, f"{layer}.{attr}")
                originals[id(fn)] = wrapped
                self._patch(mod, attr, wrapped)
        # rebind the names operator modules imported at module level; the
        # package's own namespace stays unwrapped, because the benchmark
        # calls through it and the op span already covers those calls
        for modname, mod in list(sys.modules.items()):
            if not modname.startswith("bloomjoin_spark.") or mod is None:
                continue
            if modname in WRAPPED_MODULES:
                continue
            for attr, val in list(vars(mod).items()):
                if id(val) in originals:
                    self._patch(mod, attr, originals[id(val)])
        sketches = importlib.import_module("bloomjoin_spark.sketches")
        for cls_name in WRAPPED_SKETCHES:
            cls = getattr(sketches, cls_name)
            for attr, fn in list(vars(cls).items()):
                if attr.startswith("_"):
                    continue
                if isinstance(fn, classmethod):
                    new = classmethod(self._wrap(fn.__func__, f"sketches.{cls_name}.{attr}"))
                elif inspect.isfunction(fn):
                    new = self._wrap(fn, f"sketches.{cls_name}.{attr}")
                else:
                    continue
                self._patch(cls, attr, new)

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, old = self._saved.pop()
            setattr(owner, attr, old)

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per layer: each span's duration minus the
        part of it covered by its direct children (children of one span
        never overlap: the benchmark is single-threaded on the driver)."""
        child_time: dict[int, float] = defaultdict(float)
        for _, parent, _, t0, t1 in self.spans:
            if parent is not None:
                child_time[parent] += t1 - t0
        out: dict[str, float] = defaultdict(float)
        for sid, _, name, t0, t1 in self.spans:
            out[layer_of(name)] += (t1 - t0) - child_time[sid]
        return dict(out)

    def to_json(self) -> list[dict]:
        return [
            {"id": sid, "parent": parent, "name": name, "start": t0, "end": t1}
            for sid, parent, name, t0, t1 in sorted(self.spans)
        ]


def layer_of(span_name: str) -> str:
    """``op:bloom_join`` -> ``op``; ``aggregate.tree_merge`` -> ``aggregate``."""
    if span_name.startswith("op:"):
        return "op"
    return span_name.split(".", 1)[0]
