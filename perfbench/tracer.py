"""Spans around calls into the package's layers, for the traced run only.

``Tracer.install()`` rebinds each traced public function, in every loaded
module of the package that holds a reference to it, to a wrapper that
records one span per call; ``uninstall()`` restores the originals.  Given
the session, ``install`` also registers a ``PlanningListener``.  Spans and
planning records live in memory and are written out at the end of the run.
The untraced run never installs anything.
"""

from __future__ import annotations

import sys
import threading
import time
from contextlib import contextmanager

PKG = "simple_stream_processor_spark"

# (module, function) -> layer
TRACED = {
    (f"{PKG}.session", "get_spark"): "session",
    (f"{PKG}.tables", "load_table"): "tables",
    (f"{PKG}.registry", "scoped_persist"): "registry",
    (f"{PKG}.registry", "release_scoped_caches"): "registry",
    (f"{PKG}.streaming.runner", "stream_events"): "streaming.runner",
    (f"{PKG}.streaming.runner", "run_stream_to_memory"): "streaming.runner",
    (f"{PKG}.streaming.dedup", "streaming_dedup"): "state",
    (f"{PKG}.streaming.windows", "streaming_tumbling_window"): "state",
    (f"{PKG}.streaming.windows", "streaming_session_window"): "state",
    (f"{PKG}.streaming.windows", "streaming_count_window"): "state",
    (f"{PKG}.metrics", "snapshot_from_streaming_progress"): "metrics",
}
# the part of a traced call's return value its span keeps
RESULTS = {
    "release_scoped_caches": lambda out: out,  # number of scoped caches released
    "run_stream_to_memory": lambda out: out[1],  # the drain's progress records
}


class PlanningListener:
    """A Spark ``QueryExecutionListener``, served through py4j's callback
    server, that keeps the planning time of every finished SQL action: the
    phases (analysis, optimization, physical planning) of the action's own
    ``QueryPlanningTracker``.  Spark delivers the calls on its listener bus,
    after the action; ``unregister`` waits until the bus is drained."""

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def __init__(self, spark) -> None:
        self.spark = spark
        self.actions: list[dict] = []

    def onSuccess(self, func, qe, duration_ns) -> None:
        self._keep(func, qe)

    def onFailure(self, func, qe, exc) -> None:
        self._keep(func, qe)

    def _keep(self, func, qe) -> None:
        starts, total_ms = [], 0
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            phase = it.next()._2()
            starts.append(phase.startTimeMs())
            total_ms += phase.durationMs()
        if starts:  # "start": when the last phase began, inside the action
            self.actions.append({"func": func, "start": max(starts) / 1000.0, "planning_s": total_ms / 1000.0})

    def register(self) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(self.spark.sparkContext._gateway)
        self.spark._jsparkSession.listenerManager().register(self)

    def unregister(self) -> None:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        self.spark._jsparkSession.listenerManager().unregister(self)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.actions: list[dict] = []  # planning records of every PlanningListener
        self._listener = None
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, layer: str):
        stack = self._stack()
        rec = {"name": name, "layer": layer, "start": time.time(), "end": None, "parent": stack[-1] if stack else None}
        with self._lock:
            self.spans.append(rec)
            stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()

    def _wrap(self, fn, name: str, layer: str):
        tracer = self
        keep = RESULTS.get(name)

        def traced(*args, **kwargs):
            with tracer.span(name, layer) as rec:
                out = fn(*args, **kwargs)
                if keep is not None:
                    rec["result"] = keep(out)
                return out

        traced.__wrapped__ = fn
        return traced

    def install(self, spark=None) -> None:
        if spark is not None:
            self._listener = PlanningListener(spark)
            self._listener.register()
        originals = {}
        for (mod_name, fn_name), layer in TRACED.items():
            fn = getattr(sys.modules[mod_name], fn_name)
            originals[id(fn)] = (fn, self._wrap(fn, fn_name, layer))
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == PKG or mod_name.startswith(PKG + ".") or mod_name == "__spark_entry__"):
                continue
            for attr, val in list(vars(mod).items()):
                hit = originals.get(id(val))
                if hit is not None and hit[0] is val:
                    self._patched.append((mod, attr, val))
                    setattr(mod, attr, hit[1])

    def uninstall(self) -> None:
        if self._listener is not None:
            self._listener.unregister()
            self.actions += self._listener.actions
            self._listener = None
        while self._patched:
            mod, attr, val = self._patched.pop()
            setattr(mod, attr, val)

    def within(self, start: float, end: float):
        """Spans that started inside [start, end]."""
        return [s for s in self.spans if start <= s["start"] <= end and s["end"] is not None]
