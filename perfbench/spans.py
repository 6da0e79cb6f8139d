"""Layer spans recorded from outside the engine.

``Tracer.install()`` replaces each traced public function of the
engine with a wrapper that records a span around the call, and puts
the original back on ``uninstall()``. The wrapper is written into every
``biosets_spark`` module that holds a reference to the function, so
calls through ``from .x import f`` are caught too. Spans nest: a
layer's self time is its span time minus the time its traced callees
took. No engine file is changed.

While an operator family's function is innermost on the stack, the
wrapper sets the ``perfbench.family`` local property, so every Spark
job submitted from it names that family in the event log.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import sys
import time
from collections import Counter

from eventlog import FAMILY
from workloads import cache_entries

OPERATOR_FAMILIES = ("dedup", "similarity", "text", "graph", "cluster", "pipeline",
                     "joins", "labels", "split")

# layer name -> (module, attribute) of each traced public function
SINGLE = {
    "tables.load": ("biosets_spark.tables", "load"),
    "sources.discover": ("biosets_spark.sources.discovery", "discover"),
    "sources.read": ("biosets_spark.sources.readers", "read_files"),
    "load": ("biosets_spark.load", "load_dataset"),
    "schema.with_role": ("biosets_spark.schema.roles", "with_role"),
    "plans.fingerprint": ("biosets_spark.plans.fingerprint", "plan_fingerprint"),
}


class Tracer:
    """Span recorder; one per traced run."""

    def __init__(self, sc):
        self.sc = sc
        self.self_s: Counter = Counter()
        self.calls: Counter = Counter()
        self._stack: list[list] = []        # [layer, child seconds]
        self._families: list[str] = []
        self._undo: list[tuple] = []

    # ------------------------------------------------------------ spans
    def _enter(self, layer: str, family: str | None) -> float:
        self._stack.append([layer, 0.0])
        if family:
            self._families.append(family)
            self.sc.setLocalProperty(FAMILY, family)
        return time.perf_counter()

    def _exit(self, t0: float, family: str | None, layer: str | None = None) -> None:
        elapsed = time.perf_counter() - t0
        name, child = self._stack.pop()
        layer = layer or name
        self.self_s[layer] += elapsed - child
        self.calls[layer] += 1
        if self._stack:
            self._stack[-1][1] += elapsed
        if family:
            self._families.pop()
            self.sc.setLocalProperty(FAMILY, self._families[-1] if self._families else None)

    def _wrap(self, layer: str, fn, family: str | None = None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            t0 = self._enter(layer, family)
            try:
                return fn(*args, **kwargs)
            finally:
                self._exit(t0, family)
        return traced

    def _wrap_materialize(self, fn):
        """FingerprintCache.materialize: a hit leaves the number of
        cache entries unchanged, a miss adds one."""
        @functools.wraps(fn)
        def traced(cache, df, *args, **kwargs):
            before = cache_entries(cache.cache_dir)
            t0 = self._enter("plans.cache", None)
            hit = False
            try:
                out = fn(cache, df, *args, **kwargs)
                hit = cache_entries(cache.cache_dir) == before
                return out
            finally:
                self._exit(t0, None, "plans.cache_hit" if hit else "plans.cache_miss")
        return traced

    # ---------------------------------------------------------- install
    def _replace_everywhere(self, orig, new) -> None:
        for name, mod in list(sys.modules.items()):
            if mod is None or not (name.startswith("biosets_spark") or name == "__spark_entry__"):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, new)
                    self._undo.append((mod, attr, orig))

    def _patch_attr(self, owner, attr: str, new) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def install(self) -> None:
        for layer, (mod, attr) in SINGLE.items():
            orig = getattr(importlib.import_module(mod), attr)
            self._replace_everywhere(orig, self._wrap(layer, orig))
        for fam in OPERATOR_FAMILIES:
            mod = importlib.import_module(f"biosets_spark.operators.{fam}")
            for attr, fn in list(vars(mod).items()):
                if (inspect.isfunction(fn) and not attr.startswith("_")
                        and fn.__module__ == mod.__name__):
                    self._replace_everywhere(fn, self._wrap(f"operators.{fam}", fn, fam))
        from biosets_spark.dataset import BioDataset
        from biosets_spark.plans.fingerprint import FingerprintCache

        for attr, fn in list(vars(BioDataset).items()):
            if inspect.isfunction(fn) and not attr.startswith("_"):
                self._patch_attr(BioDataset, attr, self._wrap("dataset", fn))
        self._patch_attr(FingerprintCache, "materialize",
                         self._wrap_materialize(FingerprintCache.materialize))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)
