"""Spans around calls into the engine's modules, recorded from the
benchmark's side: each traced function is replaced, in every loaded
``catlas_spark`` module that binds it, by a wrapper that times the call.
The engine's files are not changed.

A layer's self time is its spans' time minus the time of spans opened
inside them. Spans are kept in memory as per-layer sums; ``take()``
returns and resets them. With ``enabled`` off a wrapper only forwards the
call.

Wrappers carry the original's module and qualified name, and the module
attribute is the wrapper, so cloudpickle pickles a wrapped function by
reference: a Python worker resolves the name to the unwrapped original.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import sys
import time
from collections import defaultdict

# layer -> (module, function names; None = every public function it defines)
LAYERS: dict[str, tuple[str, tuple[str, ...] | None]] = {
    "operators.dedup": ("catlas_spark.operators.dedup", None),
    "operators.similarity": ("catlas_spark.operators.similarity", None),
    "streaming": ("catlas_spark.streaming.events", None),
    "memo": ("catlas_spark.memo", ("memoize", "compact")),
    "caching.pin": ("catlas_spark.caching", ("pin",)),
    "caching.materialize": ("catlas_spark.caching", ("materialize_and_release",)),
    # a context-manager factory: only its call count is reported
    "caching.small_input_exec": ("catlas_spark.caching", ("small_input_exec",)),
    "pipeline.build": ("catlas_spark.pipeline", ("run_screen",)),
    "sinks.write": ("catlas_spark.sinks", ("write_results",)),
}


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self._stack: list[list[float]] = []  # [start, child time]
        self.reset()

    def reset(self) -> None:
        self.self_s: dict[str, float] = defaultdict(float)
        self.total_s: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)

    def take(self) -> dict[str, dict]:
        out = {"self_s": dict(self.self_s), "total_s": dict(self.total_s), "calls": dict(self.calls)}
        self.reset()
        return out

    def span(self, layer: str, fn, *args, **kwargs):
        """Call ``fn`` inside a span of ``layer`` (a plain call when off)."""
        if not self.enabled:
            return fn(*args, **kwargs)
        frame = [time.perf_counter(), 0.0]
        self._stack.append(frame)
        try:
            return fn(*args, **kwargs)
        finally:
            dur = time.perf_counter() - frame[0]
            self._stack.pop()
            self.self_s[layer] += dur - frame[1]
            self.total_s[layer] += dur
            self.calls[layer] += 1
            if self._stack:
                self._stack[-1][1] += dur

    def _wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.span(layer, fn, *args, **kwargs)

        return traced

    def install(self) -> None:
        """Wrap every traced function wherever an engine module binds it."""
        originals: dict[int, tuple] = {}
        for layer, (mod_name, names) in LAYERS.items():
            mod = importlib.import_module(mod_name)
            if names is None:
                names = tuple(
                    n
                    for n, f in vars(mod).items()
                    if inspect.isfunction(f) and not n.startswith("_") and f.__module__ == mod_name
                )
            for n in names:
                fn = getattr(mod, n)
                originals[id(fn)] = (fn, self._wrap(layer, fn))
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith("catlas_spark") or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                hit = originals.get(id(val))
                if hit is not None and hit[0] is val:
                    setattr(mod, attr, hit[1])
