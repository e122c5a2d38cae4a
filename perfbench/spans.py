"""Caller-side spans around the calls the benchmark makes into
smashed_spark's layers.

``Tracer.span`` records a span and labels the Spark jobs submitted
inside it with the span's id as job group, so the event log ties each
job to the innermost span that issued it.  ``Tracer.wrap_layers``
replaces each named layer function at every attribute its callers
look it up through; ``unwrap`` puts the originals back.  A layer
function called while the same thread is already inside that layer
(``fit_centroids_sampled`` calling ``fit_ivf_centroids``, one snapshot
verb calling another) opens no span of its own: its time, jobs and
call belong to the outermost call.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import sys
import threading
import time
from contextlib import contextmanager

from eventlog import JOB_GROUP

_CALLERS = ("smashed_spark", "__spark_entry__")


class Tracer:
    def __init__(self, sc, run_id: str):
        self._sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = self._stack()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[tuple[str, str]]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        # a span opened on a thread the benchmark did not start hangs
        # under whatever the main thread is inside of
        outer = stack or self._main
        parent = outer[-1][0] if outer else None
        sid = f"{self.run_id}.{next(self._ids)}"
        prev_group = self._sc.getLocalProperty(JOB_GROUP)
        self._sc.setLocalProperty(JOB_GROUP, sid)
        stack.append((sid, name))
        start = time.time()
        try:
            yield sid
        finally:
            end = time.time()
            stack.pop()
            self._sc.setLocalProperty(JOB_GROUP, prev_group)
            with self._lock:
                self.spans.append(
                    {"id": sid, "name": name, "start": start, "end": end,
                     "parent": parent, "run": self.run_id}
                )

    def wrap_layers(self, targets) -> None:
        """Wrap each ``(layer, module, attribute)`` target; an attribute
        ``Class.method`` wraps a method."""
        for layer, modname, attr in targets:
            mod = importlib.import_module(modname)
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                self._patch(cls, meth, self._traced(layer, cls.__dict__[meth]))
            else:
                self._wrap_function(layer, mod, attr)

    def _wrap_function(self, layer: str, mod, name: str) -> None:
        original = getattr(mod, name)
        traced = self._traced(layer, original)
        # callers that did `from module import name` hold their own
        # reference; replace those too
        for other in list(sys.modules.values()):
            modname = getattr(other, "__name__", "")
            if modname not in _CALLERS and not modname.startswith("smashed_spark."):
                continue
            for attr, value in list(vars(other).items()):
                if value is original:
                    self._patch(other, attr, traced)

    def _traced(self, layer: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if any(name == layer for _, name in self._stack()):
                return fn(*args, **kwargs)
            with self.span(layer):
                return fn(*args, **kwargs)

        return traced

    def _patch(self, owner, attr: str, value) -> None:
        self._patches.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, value)

    def unwrap(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
