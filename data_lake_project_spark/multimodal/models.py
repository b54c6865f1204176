"""Per-executor model singletons for Pandas-UDF inference.

A heavy model (YOLO, PaddleOCR, Detectron2, DePlot) must load once
per Python worker process — never per batch, and certainly never per
row. ``get_model`` is that contract: the first call in a worker runs
``loader()`` and caches the handle in module state (module globals
are per-process, which on an executor means per Python worker);
every later batch on that worker reuses it.

Usage inside a ``mapInPandas`` generator::

    def gen(batches):
        model = get_model("yolo-table", load_yolo)   # once per process
        for pdf in batches:
            ... model(...) ...

Verified by ``test_model_loads_once_per_worker_process``: the loader
runs at most once per distinct worker pid regardless of partition
and row counts.
"""

from __future__ import annotations

from collections.abc import Callable

_MODELS: dict[str, object] = {}


def get_model(name: str, loader: Callable[[], object]) -> object:
    """Return the per-process singleton for ``name``, loading it with
    ``loader()`` on first use in this process."""
    if name not in _MODELS:
        _MODELS[name] = loader()
    return _MODELS[name]

