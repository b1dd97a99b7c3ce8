"""In-memory spans around calls into the engine's layers.

Only the traced run installs this. :func:`install` replaces every public
function of each layer module with a :class:`Traced` wrapper, and rebinds
every name that already points at the original in any loaded engine module
(``from ... import f`` copies). It must run before the query registry is
imported, because the query modules and ``queries/_util.py`` bind layer
functions at import time.

A span holds its layer, function name, start, end, the id of the span that
called it (same thread) and the query and pass the benchmark was running.
Self time is the span's duration minus the time of its child spans.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import sys
import threading
import time
from collections.abc import Callable
from dataclasses import dataclass

ENGINE = "incubator_flink_old_spark"

#: Layer name -> module whose public functions are traced, and the subset of
#: names to trace (None = every public function the module defines).
LAYERS: dict[str, tuple[str, tuple[str, ...] | None]] = {
    "sources": (f"{ENGINE}.sources", ("load_table",)),
    "streaming": (f"{ENGINE}.streaming", ("run_stream_to_memory",)),
    **{
        f"operators.{m}": (f"{ENGINE}.operators.{m}", None)
        for m in (
            "text",
            "similarity",
            "retrieval",
            "iterations",
            "graph",
            "joins",
            "aggregates",
            "relational",
            "layout",
        )
    },
}


@dataclass
class Span:
    id: int
    parent: int | None
    layer: str
    name: str
    query: str
    pass_no: int
    start: float
    end: float
    self_s: float
    jobs: int


#: Layers whose spans also count the scheduler jobs they ran.
JOB_COUNTED_LAYERS = frozenset({"sources"})


class Tracer:
    """Collects spans; the benchmark sets ``query`` and ``pass_no`` at each
    query boundary. ``job_counter`` (if set) is read at the start and end of
    spans of ``JOB_COUNTED_LAYERS``."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.query = ""
        self.pass_no = -1
        self.job_counter: Callable[[], int] | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0

    def _stack(self) -> list[list]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def call(self, layer: str, fn: Callable, args, kwargs):
        stack = self._stack()
        with self._lock:
            span_id = self._next_id
            self._next_id += 1
        parent = stack[-1][0] if stack else None
        counter = self.job_counter if layer in JOB_COUNTED_LAYERS else None
        jobs0 = counter() if counter else 0
        frame = [span_id, 0.0]  # [id, time covered by child spans]
        stack.append(frame)
        start = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            end = time.perf_counter()
            stack.pop()
            if stack:
                stack[-1][1] += end - start
            span = Span(
                span_id, parent, layer, fn.__name__, self.query, self.pass_no,
                start, end, end - start - frame[1],
                (counter() - jobs0) if counter else 0,
            )
            with self._lock:
                self.spans.append(span)


class Traced:
    """A traced stand-in for a layer function.

    Pickling yields the original function, so a traced function captured by
    a UDF closure reaches Python workers untraced (the tracer holds locks
    and cannot be pickled).
    """

    def __init__(self, tracer: Tracer, layer: str, fn: Callable) -> None:
        functools.update_wrapper(self, fn)
        self._tracer = tracer
        self._layer = layer

    def __call__(self, *args, **kwargs):
        return self._tracer.call(self._layer, self.__wrapped__, args, kwargs)

    def __reduce__(self):
        return (_identity, (self.__wrapped__,))


def _identity(x):
    return x


def install(tracer: Tracer) -> None:
    """Wrap the layer functions."""
    if f"{ENGINE}.queries._util" in sys.modules:
        raise RuntimeError("tracing must be installed before the query registry is imported")
    originals: dict[int, Traced] = {}
    for layer, (mod_name, names) in LAYERS.items():
        mod = importlib.import_module(mod_name)
        picked = names or [
            n
            for n, obj in vars(mod).items()
            if not n.startswith("_")
            and inspect.isfunction(obj)
            and obj.__module__ == mod_name
        ]
        for n in picked:
            fn = getattr(mod, n)
            originals[id(fn)] = Traced(tracer, layer, fn)
    for name, mod in list(sys.modules.items()):
        if mod is None or not (name == ENGINE or name.startswith(ENGINE + ".")):
            continue
        for attr, obj in list(vars(mod).items()):
            wrapped = originals.get(id(obj))
            if wrapped is not None and wrapped.__wrapped__ is obj:
                setattr(mod, attr, wrapped)
