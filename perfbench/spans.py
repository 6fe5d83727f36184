"""Spans and Spark instrumentation for the traced run.

Spans are ``(name, start, end, parent, call_id)`` with perf-counter
times; they stay in memory and are written when the run ends.  The
layer spans come from wrapping the library's public functions in every
library module that bound them; no library file changes.
"""

from __future__ import annotations

import sys
import time
from contextlib import contextmanager

#: public library functions timed as layer spans: (module, name) -> span
LAYER_FUNCTIONS = {
    ("ema_bigdata_spark.sources.tables", "load_table"): "sources.load_table",
    ("ema_bigdata_spark.sources.sinks", "write_parquet"): "sources.sinks_write",
    ("ema_bigdata_spark.gmm", "value_histogram"): "gmm.value_histogram",
    ("ema_bigdata_spark.gmm", "gmm_fit_hist"): "gmm.gmm_fit_hist",
    ("ema_bigdata_spark.operators.dedup", "connected_components"):
        "dedup.connected_components",
}


class Tracer:
    def __init__(self):
        #: epoch seconds = perf-counter seconds + epoch_offset
        self.epoch_offset = time.time() - time.perf_counter()
        self.spans: list[list] = []
        self.call_id: str | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append([name, time.perf_counter(), None, parent,
                           self.call_id])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.perf_counter()

    def closed(self) -> list[tuple]:
        """Every span, once all are closed (parents stay list indices)."""
        if any(s[2] is None for s in self.spans):
            raise RuntimeError("a span is still open")
        return [tuple(s) for s in self.spans]

    def windows(self) -> dict[str, tuple[float, float]]:
        """Epoch ``(start, end)`` of every call, from its spans."""
        out: dict[str, tuple[float, float]] = {}
        for name, start, end, _, call in self.closed():
            if call is None:
                continue
            a, b = out.get(call, (start, end))
            out[call] = (min(a, start), max(b, end))
        return {c: (a + self.epoch_offset, b + self.epoch_offset)
                for c, (a, b) in out.items()}


class Patches:
    """Wrap library functions in spans wherever a library module bound
    them, and put the originals back on ``restore``."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self._undo: list[tuple[object, str, object]] = []

    def install(self) -> None:
        import importlib

        for (module, attr), span in LAYER_FUNCTIONS.items():
            original = getattr(importlib.import_module(module), attr)
            wrapper = self._wrap(original, span)
            for mod in list(sys.modules.values()):
                name = getattr(mod, "__name__", "")
                if not name.startswith("ema_bigdata_spark"):
                    continue
                for key, value in list(vars(mod).items()):
                    if value is original:
                        setattr(mod, key, wrapper)
                        self._undo.append((mod, key, original))

    def _wrap(self, fn, span: str):
        tracer = self.tracer

        def wrapper(*args, **kwargs):
            with tracer.span(span):
                return fn(*args, **kwargs)

        wrapper.__wrapped__ = fn
        return wrapper

    def restore(self) -> None:
        for mod, key, original in reversed(self._undo):
            setattr(mod, key, original)
        self._undo.clear()


def listeners(spark, tracer: Tracer):
    """Register the harness's query-execution and streaming listeners.

    Returns ``(phases, stream_runs, unregister)``: ``(start, {phase:
    ms})`` per executed query with ``start`` in epoch seconds, the call
    id that started each streaming run, and a function that waits for
    pending callbacks and removes both listeners.
    """
    from pyspark.sql.streaming import StreamingQueryListener

    phases: list[tuple[float, dict[str, float]]] = []
    stream_runs: dict[str, str] = {}

    class ExecutionListener:
        def onSuccess(self, func_name, qe, duration_ns):
            it = qe.tracker().phases().iterator()
            got, start = {}, None
            while it.hasNext():
                pair = it.next()
                summary = pair._2()
                got[pair._1()] = summary.durationMs()
                t = summary.startTimeMs() / 1000.0
                start = t if start is None else min(start, t)
            if start is not None:
                phases.append((start, got))

        def onFailure(self, func_name, qe, exception):
            self.onSuccess(func_name, qe, 0)

        class Java:
            implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    class StreamListener(StreamingQueryListener):
        # onQueryStarted runs before DataStreamWriter.start() returns,
        # so the current call is the one that started the query
        def onQueryStarted(self, event):
            stream_runs[str(event.runId)] = tracer.call_id or "-"

        def onQueryProgress(self, event):
            pass

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    qel = ExecutionListener()
    manager = spark._jsparkSession.listenerManager()
    manager.register(qel)
    sql = StreamListener()
    spark.streams.addListener(sql)

    def unregister(settle: float = 0.3, limit: float = 10.0) -> None:
        # execution callbacks arrive asynchronously: wait until quiet
        deadline = time.monotonic() + limit
        seen = -1
        while len(phases) != seen and time.monotonic() < deadline:
            seen = len(phases)
            time.sleep(settle)
        manager.unregister(qel)
        spark.streams.removeListener(sql)

    return phases, stream_runs, unregister
