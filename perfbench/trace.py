"""Spans around the calls into each layer of the library.

Nothing here edits the library: the traced run swaps the library's
public functions for thin wrappers, in every module namespace that
holds them, so both ``module.fn(...)`` and ``from module import fn``
call sites record a span. Spans live in memory and are folded into
per-layer totals when the run ends.

A layer's self time is its spans' duration minus the part covered by
their child spans (spans opened inside them on the same thread, or by
a streaming query's callback thread while the drain is open).
"""

from __future__ import annotations

import importlib
import inspect
import pkgutil
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Span:
    __slots__ = ("layer", "name", "t0", "t1", "parent", "child_s")

    def __init__(self, layer, name, parent):
        self.layer = layer
        self.name = name
        self.parent = parent
        self.child_s = 0.0
        self.t0 = time.perf_counter()
        self.t1 = None

    @property
    def dur(self):
        return self.t1 - self.t0

    @property
    def self_s(self):
        return self.dur - self.child_s


class Tracer:
    """Records spans. ``enabled=False`` keeps the same call shape at
    the cost of one attribute check, so untraced runs time the same
    code path minus the bookkeeping."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.cut_rows = 0  # rows held by eager cuts
        self._local = threading.local()
        self._lock = threading.Lock()
        # spans that other threads open with nothing of their own open
        # (a streaming query's batch callbacks) nest under this one
        self.anchor: Span | None = None

    def _stack(self):
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, layer: str, name: str, anchor: bool = False):
        """Time a call into ``layer``. With ``anchor``, spans that
        other threads open meanwhile count as this span's children."""
        if not self.enabled:
            yield None
            return
        st = self._stack()
        parent = st[-1] if st else self.anchor
        s = Span(layer, name, parent)
        st.append(s)
        outer, self.anchor = self.anchor, (s if anchor else self.anchor)
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            self.anchor = outer
            st.pop()
            with self._lock:
                if parent is not None:
                    parent.child_s += s.dur
                self.spans.append(s)

    @contextmanager
    def paused(self):
        """No spans: for the benchmark's own checks."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    def layer_totals(self) -> dict[str, dict[str, float]]:
        """``{layer: {"calls": n, "self_s": s, "total_s": s}}``."""
        out: dict[str, dict[str, float]] = defaultdict(
            lambda: {"calls": 0, "self_s": 0.0, "total_s": 0.0}
        )
        for s in self.spans:
            if s.t1 is None:
                continue
            d = out[s.layer]
            d["calls"] += 1
            d["self_s"] += s.self_s
            d["total_s"] += s.dur
        return dict(out)


class _Traced:
    """Callable stand-in for a library function. Pickles as the
    original (looked up by module and name), so a wrapped function
    captured by a UDF closure ships to Python workers unwrapped."""

    def __init__(self, tracer, layer, fn):
        self._tracer = tracer
        self._layer = layer
        self._fn = fn
        self.__wrapped__ = fn
        self.__name__ = fn.__name__
        self.__qualname__ = fn.__qualname__
        self.__module__ = fn.__module__
        self.__doc__ = fn.__doc__

    def __call__(self, *args, **kwargs):
        with self._tracer.span(self._layer, self.__name__):
            return self._fn(*args, **kwargs)

    def __reduce__(self):
        return (getattr, (importlib.import_module(self.__module__), self.__name__))


PACKAGE = "data_lake_project_spark"


def layer_of(module_name: str) -> str | None:
    """Layer name for a library module, after the repo's layout:
    ``operators.<m>``, ``multimodal.<m>``, and one layer each for
    ``streaming``, ``lakehouse``, ``fs`` and ``tables``. The query
    registry is timed by the benchmark itself (build and run phases),
    so ``queries`` is not wrapped here."""
    parts = module_name.split(".")
    if parts[0] != PACKAGE or len(parts) < 2:
        return None
    head = parts[1]
    if head in ("operators", "multimodal") and len(parts) == 3:
        return f"{head}.{parts[2]}"
    if head == "streaming":
        return "streaming"
    if head in ("lakehouse", "fs", "tables"):
        return head
    return None


def instrument(tracer: Tracer) -> None:
    """Wrap every public function of the library's layer modules, in
    every loaded module of the package that refers to it, plus the
    public methods of classes those modules define and the two
    DataFrame cut calls."""
    import data_lake_project_spark as pkg

    for info in pkgutil.walk_packages(pkg.__path__, PACKAGE + "."):
        importlib.import_module(info.name)
    modules = [m for n, m in sys.modules.items() if n.startswith(PACKAGE)]
    wrapped: dict[int, _Traced] = {}
    for mod in modules:
        layer = layer_of(mod.__name__)
        if layer is None:
            continue
        for name, obj in list(vars(mod).items()):
            if name.startswith("_"):
                continue
            if inspect.isfunction(obj) and obj.__module__ == mod.__name__:
                wrapped[id(obj)] = _Traced(tracer, layer, obj)
            elif inspect.isclass(obj) and obj.__module__ == mod.__name__:
                _wrap_methods(tracer, layer, obj)
    for mod in modules:
        for name, obj in list(vars(mod).items()):
            w = wrapped.get(id(obj))
            if w is not None and w._fn is obj:
                setattr(mod, name, w)
    _wrap_cuts(tracer)


def _wrap_methods(tracer, layer, cls):
    for name, fn in list(vars(cls).items()):
        if name.startswith("_") or not inspect.isfunction(fn):
            continue
        setattr(cls, name, _method_wrapper(tracer, layer, fn))


def _method_wrapper(tracer, layer, fn):
    def traced(*args, **kwargs):
        with tracer.span(layer, fn.__name__):
            return fn(*args, **kwargs)

    traced.__name__ = fn.__name__
    traced.__doc__ = fn.__doc__
    traced.__wrapped__ = fn
    return traced


def _wrap_cuts(tracer):
    """Time every ``DataFrame.localCheckpoint``/``checkpoint`` from
    outside and count the rows each materializes. The row count runs
    under its own job group, which the event-log fold drops."""
    from pyspark.sql import DataFrame

    classes = [DataFrame]
    try:  # Spark 4 runs the classic subclass, which defines its own
        from pyspark.sql.classic.dataframe import DataFrame as Classic

        classes.append(Classic)
    except ImportError:
        pass
    for cls, name in [(c, n) for c in classes for n in ("localCheckpoint", "checkpoint")]:
        orig = vars(cls).get(name)
        if orig is None or hasattr(orig, "__wrapped__"):
            continue

        def traced(self, *args, _orig=orig, _name=name, **kwargs):
            with tracer.span("cuts", _name) as s:
                out = _orig(self, *args, **kwargs)
            eager = kwargs.get("eager", args[0] if args else True)
            if s is not None and eager:
                tracer.cut_rows += _probe_rows(out)
            return out

        traced.__wrapped__ = orig
        traced.__name__ = name
        setattr(cls, name, traced)


PROBE_GROUP = "perfbench.probe"


def _probe_rows(df) -> int:
    sc = df.sparkSession.sparkContext
    old_group = sc.getLocalProperty("spark.jobGroup.id")
    old_desc = sc.getLocalProperty("spark.job.description")
    sc.setJobGroup(PROBE_GROUP, PROBE_GROUP)
    try:
        return df.count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", old_group)
        sc.setLocalProperty("spark.job.description", old_desc)
