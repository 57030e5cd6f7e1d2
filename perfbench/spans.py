"""Spans and Spark job windows for the benchmark's traced run.

Every layer is observed from outside the engine: the benchmark wraps the
engine's public functions (``sources.io.load_table`` and the
``filemover`` functions) and its own calls into the registry, and records
one span per call. Spans stay in memory and are written once, at the end
of the run. With tracing off nothing is wrapped, so the end-to-end
figures carry no tracing cost.
"""

from __future__ import annotations

import contextlib
import functools
import sys
import time
from collections import defaultdict

# Public filemover functions whose calls the traced run records.
FILEMOVER_FUNCS = (
    "write_single_file",
    "move_files",
    "list_output_files",
    "plan_moves",
    "has_collisions",
    "execute_moves_distributed",
)


class Tracer:
    """Records ``(name, start, end, parent, op)`` spans; a no-op when off."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op_id: int | None = None
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            **attrs,
        }
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, name: str, fn, attr=None):
        """``fn`` with a span around each call; ``attr(args)`` may name
        extra span attributes (e.g. the table a load is for)."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, **(attr(args) if attr else {})):
                return fn(*args, **kwargs)

        return traced

    def self_times(self, ops=None) -> dict[str, float]:
        """Total self time per span name (duration minus child spans),
        over the spans of ``ops`` (all spans when None)."""
        child: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if ops is None or s["op"] in ops:
                out[s["name"]] += s["end"] - s["start"] - child[i]
        return dict(out)

    def durations(self, name: str, ops=None) -> list[float]:
        return [
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and (ops is None or s["op"] in ops)
        ]


def instrument(tracer: Tracer) -> None:
    """Wrap the engine's public layer functions with spans, in every
    engine module that imported them by name."""
    from spark_file_mover_spark import filemover
    from spark_file_mover_spark.sources import io

    targets = {
        io.load_table: tracer.wrap(
            "sources.io.load_table", io.load_table, lambda a: {"table": a[2]}
        )
    }
    for fname in FILEMOVER_FUNCS:
        fn = getattr(filemover, fname)
        targets[fn] = tracer.wrap(f"filemover.{fname}", fn)
    for mod in list(sys.modules.values()):
        if not getattr(mod, "__name__", "").startswith("spark_file_mover_spark"):
            continue
        for attr, value in list(vars(mod).items()):
            if any(value is fn for fn in targets):
                setattr(mod, attr, targets[value])


class JobWindow:
    """Counts the Spark jobs, stages and tasks of one call by the job-id
    window around it. With one client every job in the window belongs to
    the call, including jobs the call runs on its own threads, which a
    job-group count would miss."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()

    def now(self) -> int:
        return self._dag.numTotalJobs()

    def stats(self, windows: list[tuple[int, int]]) -> list[tuple[int, int, int]]:
        """``(jobs, stages, tasks)`` per ``[first, end)`` job-id window.
        Waits for the listener bus first, so finished jobs are counted."""
        self._bus.waitUntilEmpty(30_000)
        out = []
        for j0, j1 in windows:
            stages = tasks = 0
            for j in range(j0, j1):
                try:
                    jd = self._store.job(j)
                except Exception:
                    continue  # evicted from the status store
                stages += jd.numCompletedStages()
                tasks += jd.numCompletedTasks()
            out.append((j1 - j0, stages, tasks))
        return out
