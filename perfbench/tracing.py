"""Layer tracing for the benchmark's traced run.

Everything here wraps the engine from the outside: the catalog and source
functions are swapped for timing wrappers on the loaded modules for the
duration of a traced pass, Spark's own status store supplies job, stage
and task counts, the returned DataFrame's ``QueryPlanningTracker`` supplies
Catalyst phase times, and a ``StreamingQueryListener`` supplies per-trigger
durations.  No file of the engine package is modified.

Span model: every span has a name, start, end, the id of the span that
caused it and the run id.  Spans nest on the calling thread only; a layer's
self time is its duration minus its direct children.
"""

from __future__ import annotations

import itertools
import sys
import threading
import time
from contextlib import contextmanager

#: Catalog functions timed in the ``catalog`` layer.
CATALOG_FUNCS = ("load_table", "register_views", "table_meta", "sized_spread")
#: Docstore connector entry points timed as ``sources.docstore``.
DOCSTORE_FUNCS = ("build_collection", "open_docstore", "count_documents",
                  "append_batch")
#: Package modules whose DataFrameWriter calls are sink writes: the
#: connectors and the reference pipeline's lake write.  A write from any
#: other module (an operator's staged parquet, say) is an eager side job of
#: the operators layer.
SINK_MODULES = ("sources", "plans.etl")
#: DataFrameWriter methods timed as ``sources.sink_write``.
WRITER_METHODS = ("save", "parquet", "json", "csv", "orc", "text",
                  "saveAsTable", "insertInto")
#: Micro-batch phases reported per trigger.
TRIGGER_PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch",
                  "walCommit", "commitOffsets")
PLAN_PHASES = ("parsing", "analysis", "optimization", "planning")


class Tracer:
    """In-memory span recorder; spans are written out once at the end."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[dict] = []
        self._main = threading.main_thread()

    @contextmanager
    def span(self, name: str, **attrs):
        # spans nest on the calling (main) thread only: work on stream or
        # callback threads is accounted through the trigger events instead
        if threading.current_thread() is not self._main:
            yield None
            return
        sp = {"id": next(self._ids), "run": self.run_id, "name": name,
              "parent": self._stack[-1]["id"] if self._stack else None,
              "start": time.time(), "end": None, **attrs}
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self._stack.pop()

    def children(self, sp: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sp["id"]]

    def self_time(self, sp: dict) -> float:
        return (sp["end"] - sp["start"]) - sum(
            c["end"] - c["start"] for c in self.children(sp))

    def descendants(self, sp: dict) -> list[dict]:
        out, todo = [], [sp]
        while todo:
            kids = self.children(todo.pop())
            out += kids
            todo += kids
        return out


def _loaded_package_modules(package: str):
    return [m for name, m in list(sys.modules.items())
            if m is not None and (name == package
                                  or name.startswith(package + "."))]


def _swap_everywhere(package: str, owner, name: str, wrapper) -> list:
    """Point every loaded package module's reference to ``owner.name`` at
    ``wrapper``; return (module, name, original) triples for undo."""
    original = getattr(owner, name)
    undo = []
    for mod in _loaded_package_modules(package):
        if getattr(mod, name, None) is original:
            setattr(mod, name, wrapper)
            undo.append((mod, name, original))
    return undo


def instrument(tracer: Tracer, package: str) -> callable:
    """Install the layer wrappers; returns a function that removes them."""
    import importlib

    from pyspark.sql.readwriter import DataFrameWriter

    catalog = importlib.import_module(f"{package}.catalog")
    docstore = importlib.import_module(f"{package}.sources.docstore")
    undo: list = []

    def wrap(layer: str, fn):
        def traced(*args, **kwargs):
            with tracer.span(f"{layer}.{fn.__name__}") as sp:
                out = fn(*args, **kwargs)
                if sp is not None and fn.__name__ == "sized_spread":
                    sp["exchange"] = out is not args[0]
                return out
        return traced

    for name in CATALOG_FUNCS:
        undo += _swap_everywhere(package, catalog, name,
                                 wrap("catalog", getattr(catalog, name)))
    for name in DOCSTORE_FUNCS:
        undo += _swap_everywhere(package, docstore, name,
                                 wrap("sources.docstore",
                                      getattr(docstore, name)))

    sink_prefixes = tuple(f"{package}.{m}" for m in SINK_MODULES)

    def wrap_writer(method):
        def traced(self, *args, **kwargs):
            # a sink write is one made by a connector's or the pipeline's
            # own code; the benchmark's noop save is the exec layer
            caller = sys._getframe(1).f_globals.get("__name__", "")
            if not caller.startswith(sink_prefixes):
                return method(self, *args, **kwargs)
            with tracer.span("sources.sink_write"):
                return method(self, *args, **kwargs)
        return traced

    for name in WRITER_METHODS:
        original = getattr(DataFrameWriter, name)
        setattr(DataFrameWriter, name, wrap_writer(original))
        undo.append((DataFrameWriter, name, original))

    def remove() -> None:
        for owner, name, original in reversed(undo):
            setattr(owner, name, original)

    return remove


def plan_phases_ms(df) -> dict[str, float]:
    """Force physical planning of ``df`` and read Catalyst's phase times."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {p: 0.0 for p in PLAN_PHASES}
    for p in PLAN_PHASES:
        summary = phases.get(p)
        if summary.isDefined():
            out[p] = float(summary.get().durationMs())
    return out


class StatusStore:
    """Jobs and stage metrics from Spark's status store, read after each op.

    Only jobs with ids above the last one read are fetched, so each op sees
    exactly the jobs that ran since the previous op (one client, one op at
    a time)."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._last = -1

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self._sc.listenerBus().waitUntilEmpty()

    def skip_existing(self) -> None:
        self.drain()
        self._last = max([j["id"] for j in self._jobs_after(-1)] + [self._last])

    def _jobs_after(self, last: int) -> list[dict]:
        seq = self._store.jobsList(None)
        out = []
        for i in range(seq.size()):
            jd = seq.apply(i)
            jid = jd.jobId()
            if jid <= last:
                continue
            grp = jd.jobGroup()
            sub, end = jd.submissionTime(), jd.completionTime()
            stages = jd.stageIds()
            out.append({
                "id": jid,
                "group": grp.get() if grp.isDefined() else None,
                "submitted": sub.get().getTime() / 1000 if sub.isDefined() else None,
                "completed": end.get().getTime() / 1000 if end.isDefined() else None,
                "stages": [stages.apply(k) for k in range(stages.size())],
            })
        return out

    def new_jobs(self) -> list[dict]:
        self.drain()
        jobs = sorted(self._jobs_after(self._last), key=lambda j: j["id"])
        if jobs:
            self._last = jobs[-1]["id"]
        return jobs

    def stage_metrics(self, stage_id: int) -> dict:
        try:
            sd = self._store.lastStageAttempt(stage_id)
        except Exception:  # noqa: BLE001 — stage evicted or never attempted
            return {}
        return {"tasks": sd.numCompleteTasks(),
                "run_ms": sd.executorRunTime(),
                "input_bytes": sd.inputBytes(),
                "output_bytes": sd.outputBytes(),
                "shuffle_read_bytes": sd.shuffleReadBytes(),
                "shuffle_write_bytes": sd.shuffleWriteBytes(),
                "spill_bytes": sd.diskBytesSpilled()}


def make_trigger_listener():
    """A StreamingQueryListener that records every trigger's progress,
    tagged with the op the benchmark says is running."""
    from pyspark.sql.streaming import StreamingQueryListener

    class TriggerListener(StreamingQueryListener):
        def __init__(self):
            self.op = None
            self.triggers: list[dict] = []
            self.started = 0
            self.terminated = 0
            self._lock = threading.Lock()

        def onQueryStarted(self, event):
            with self._lock:
                self.started += 1

        def onQueryProgress(self, event):
            p = event.progress
            with self._lock:
                self.triggers.append({"op": self.op, "batch": p.batchId,
                                      "rows": p.numInputRows,
                                      "ms": dict(p.durationMs)})

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self._lock:
                self.terminated += 1

        def settle(self, timeout_s: float = 10.0) -> None:
            """Wait for the terminal events of every query started so far."""
            deadline = time.time() + timeout_s
            while time.time() < deadline:
                with self._lock:
                    if self.terminated >= self.started:
                        return
                time.sleep(0.02)

    return TriggerListener()
