"""Spans around the repository's public functions, Spark job groups per
span, and the attribution of Spark jobs back to spans.

A traced op is one root span (layer ``plans``). Wrapped calls into the
repository's modules open child spans named after the module's layer.
Every span sets its own Spark job group, so a job submitted inside it
carries the span's id. A job submitted from a thread the repository
starts, outside any wrapped call, carries no group of ours; it is
attributed by submission time to the op that was running, and counted
as unattributed.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import sys
import threading
import time
from collections.abc import Iterable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench-"

# module -> layer name; the rest of the package runs unwrapped
LAYERS = {
    "polars_ts_spark.sources.datasets": "sources",
    "polars_ts_spark.functions.dist_kernels": "functions",
    "polars_ts_spark.functions.native": "functions",
    "polars_ts_spark.streaming.structured": "streaming",
    **{f"polars_ts_spark.operators.{m}": f"operators.{m}" for m in (
        "features", "preprocessing", "baselines", "metrics", "ets", "arima",
        "statespace", "pelt", "trend", "pipeline", "evaluation", "distance",
        "clustering", "textops", "embedsim")},
}


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    op: int  # sid of the op's root span
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def group(self) -> str:
        return f"{GROUP_PREFIX}{self.sid}"


@dataclass
class Job:
    jid: int
    group: str | None
    submit: float
    complete: float
    stages: list[int] = field(default_factory=list)


class Tracer:
    """Records spans in memory and sets one Spark job group per span."""

    def __init__(self, sc=None, clock=time.time):
        self.sc, self.clock = sc, clock
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._op: Span | None = None

    def _stack(self) -> list[Span]:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc._jsc.clearJobGroup()
        else:
            self.sc.setJobGroup(span.group, span.name)

    @contextmanager
    def op(self, name: str) -> Iterator[Span]:
        with self._open(name, "plans", root=True) as s:
            yield s

    @contextmanager
    def span(self, name: str, layer: str) -> Iterator[Span | None]:
        if self._op is None:  # outside any op: not traced
            yield None
            return
        with self._open(name, layer, root=False) as s:
            yield s

    @contextmanager
    def _open(self, name: str, layer: str, root: bool) -> Iterator[Span]:
        stack = self._stack()
        with self._lock:
            sid = next(self._ids)
            parent = stack[-1] if stack else (None if root else self._op)
            s = Span(sid, name, layer, sid if root else self._op.sid,
                     parent.sid if parent else None, self.clock())
            self.spans.append(s)
            if root:
                self._op = s
        stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = self.clock()
            stack.pop()
            self._set_group(stack[-1] if stack else None)
            if root:
                self._op = None

    def wrap(self, fn, layer: str, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)
        traced.__perfbench_original__ = fn
        return traced


def install(tracer: Tracer) -> int:
    """Wrap the public functions, and public methods of public classes,
    defined in each module of ``LAYERS``; rebind every alias of them in
    already-imported package modules (``from m import f``). The wrapper
    keeps the original's module and qualified name, so cloudpickle still
    ships it to workers by reference and workers run the original.
    Returns the number of callables wrapped."""
    import importlib

    swapped: dict[int, object] = {}
    for modname, layer in LAYERS.items():
        mod = importlib.import_module(modname)
        short = modname.rsplit(".", 1)[1]
        for name, obj in list(vars(mod).items()):
            if name.startswith("_") or getattr(obj, "__module__", None) != modname:
                continue
            if inspect.isfunction(obj):
                w = tracer.wrap(obj, layer, f"{short}.{name}")
                setattr(mod, name, w)
                swapped[id(obj)] = w
            elif inspect.isclass(obj):
                for mname, meth in list(vars(obj).items()):
                    if not mname.startswith("_") and inspect.isfunction(meth):
                        setattr(obj, mname, tracer.wrap(meth, layer, f"{short}.{name}.{mname}"))
    for mod in list(sys.modules.values()):
        mname = getattr(mod, "__name__", "")
        if not (mname.startswith("polars_ts_spark") or mname == "__spark_entry__"):
            continue
        for attr, val in list(vars(mod).items()):
            w = swapped.get(id(val))
            if w is not None and w is not val:
                setattr(mod, attr, w)
    return len(swapped)


def attribute_jobs(jobs: Iterable[Job], spans: list[Span]) -> tuple[dict[int, int], int]:
    """Map job id -> sid of the span it belongs to.

    A job whose group names one of our spans goes to that span. Any
    other job goes to the root span of the op whose interval holds its
    submission time; those are counted in the second return value. Jobs
    submitted outside every op are left out."""
    by_group = {s.group: s for s in spans}
    roots = sorted((s for s in spans if s.parent is None), key=lambda s: s.start)
    out: dict[int, int] = {}
    fallback = 0
    for j in jobs:
        s = by_group.get(j.group or "")
        if s is not None:
            out[j.jid] = s.sid
            continue
        for r in roots:
            if r.start <= j.submit <= r.end:
                out[j.jid] = r.sid
                fallback += 1
                break
    return out, fallback
