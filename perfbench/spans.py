"""Traced runs: spans around every public function of each
``pd_utils_spark`` package, joined with the jobs and stages of Spark's
status store and the progress events of a streaming-query listener.

Spans are recorded from the benchmark's own files: ``wrap_layers``
rebinds each public function, wherever it is referenced, to a wrapper
that opens a span for the call.  The engine itself is not edited.

A job is attributed to the innermost span open when it was submitted
(the deepest span whose interval holds the submission time).  A job that
carries a streaming run id, as its job group or in its description, is
attributed to the ``streaming`` layer instead: micro-batches run on the
stream's own thread, under whatever span happens to be open.  A job that
no span holds, or that the status store no longer has, is unattributed.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import pkgutil
import re
import sys
import threading
import time
from dataclasses import dataclass, field

LAYERS = ("operators", "functions", "query", "extensions", "plans", "sources", "streaming", "utils")
_RUN_ID = re.compile(r"runId = ([0-9a-f-]{36})")


@dataclass
class Span:
    layer: str
    name: str
    start: float
    parent: "Span | None" = None
    query: str | None = None
    end: float | None = None
    depth: int = field(init=False)

    def __post_init__(self):
        self.depth = 0 if self.parent is None else self.parent.depth + 1


class Tracer:
    """Keeps spans in memory.  Each thread has its own stack; a span
    opened on a thread with an empty stack (a pool thread, or the thread
    that runs ``foreachBatch``) hangs off the query's root span.  While
    ``enabled`` is false, wrapped functions run without spans."""

    def __init__(self, clock=time.time):
        self.clock = clock
        self.enabled = True
        self.spans: list[Span] = []
        self.query: str | None = None
        self.root: Span | None = None
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, layer: str, name: str) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else self.root
        span = Span(layer, name, self.clock(), parent, self.query)
        with self._lock:
            self.spans.append(span)
        stack.append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = self.clock()
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()

    def call(self, layer: str, name: str, fn, *args, **kwargs):
        span = self.open(layer, name)
        try:
            return fn(*args, **kwargs)
        finally:
            self.close(span)

    def call_root(self, layer: str, name: str, fn, *args, **kwargs):
        """``call`` as a top-level span of the current query, the parent
        of spans opened on other threads while it runs."""
        self.root = None
        self.root = self.open(layer, name)
        try:
            return fn(*args, **kwargs)
        finally:
            self.close(self.root)
            self.root = None


def union_length(intervals) -> float:
    """Total length the ``(lo, hi)`` intervals cover, overlaps counted once."""
    total, cur = 0.0, None
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if cur is not None and lo <= cur[1]:
            cur[1] = max(cur[1], hi)
            continue
        total += cur[1] - cur[0] if cur else 0.0
        cur = [lo, hi]
    return total + (cur[1] - cur[0] if cur else 0.0)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time per span (keyed by ``id``): its duration minus the part
    of its interval that its child spans cover.  Children on other
    threads may overlap each other; their union is subtracted once."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(id(s.parent), []).append(s)
    out = {}
    for s in spans:
        end = s.end if s.end is not None else s.start
        out[id(s)] = (end - s.start) - union_length(
            (max(c.start, s.start), min(c.end if c.end is not None else end, end))
            for c in kids.get(id(s), ())
        )
    return out


def write_spans(spans: list[Span], path: str) -> None:
    """Write one JSON object per line for each span: layer, name, start,
    end, parent (the parent's line number from 0, or null) and query."""
    line = {id(s): i for i, s in enumerate(spans)}
    with open(path, "w") as f:
        for s in spans:
            f.write(json.dumps({
                "layer": s.layer, "name": s.name, "start": s.start, "end": s.end,
                "parent": line.get(id(s.parent)), "query": s.query,
            }) + "\n")


def innermost(spans: list[Span], t: float) -> Span | None:
    """The deepest span whose interval holds ``t``; ties go to the one
    that opened last."""
    best = None
    for s in spans:
        if s.start <= t and (s.end is None or t <= s.end):
            if best is None or (s.depth, s.start) > (best.depth, best.start):
                best = s
    return best


def attribute(jobs: list[dict], spans: list[Span], stream_runs: set[str]) -> dict[int, str | None]:
    """Layer per job id, or None when the job is unattributed.  ``jobs``
    are status-store records with ``jobId``, ``submissionTime`` (epoch
    ms), ``jobGroup`` and ``description``."""
    out = {}
    for job in jobs:
        if job.get("jobGroup") in stream_runs or _RUN_ID.search(job.get("description") or ""):
            out[job["jobId"]] = "streaming"
            continue
        t = job.get("submissionTime")
        span = innermost(spans, t / 1000.0) if t is not None else None
        out[job["jobId"]] = span.layer if span is not None else None
    return out


def wrap_layers(tracer: Tracer, namespaces=()) -> int:
    """Wrap every public function defined in the ``LAYERS`` packages of
    ``pd_utils_spark`` and rebind each reference to it, in those modules
    and in ``namespaces`` (e.g. ``__spark_entry__``).  Returns the number
    of functions wrapped.

    ``functools.wraps`` keeps ``__module__`` and ``__qualname__``, so
    cloudpickle still pickles a wrapped function by reference and Python
    workers import the plain function."""
    import pd_utils_spark

    wrapped: dict[int, tuple] = {}
    for info in pkgutil.walk_packages(pd_utils_spark.__path__, "pd_utils_spark."):
        layer = info.name.split(".")[1]
        if layer not in LAYERS:
            continue
        mod = importlib.import_module(info.name)
        for name, obj in list(vars(mod).items()):
            if name.startswith("_") or not inspect.isfunction(obj) or obj.__module__ != mod.__name__:
                continue
            wrapped[id(obj)] = (obj, _wrapper(tracer, layer, f"{info.name}.{name}", obj))
    mods = [m for n, m in sys.modules.items() if n == "pd_utils_spark" or n.startswith("pd_utils_spark.")]
    for mod in [*mods, *namespaces]:
        for name, obj in list(vars(mod).items()):
            hit = wrapped.get(id(obj))
            if hit is not None and hit[0] is obj:
                setattr(mod, name, hit[1])
    return len(wrapped)


def _wrapper(tracer: Tracer, layer: str, name: str, fn):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        if not tracer.enabled:
            return fn(*args, **kwargs)
        return tracer.call(layer, name, fn, *args, **kwargs)

    return traced


class StatusStore:
    """Reads jobs and stages from ``SparkContext.statusStore()`` (which
    is kept with the UI off) as JSON, one id at a time, since the last
    read."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        scala = getattr(sc._jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._json = sc._jvm.com.fasterxml.jackson.databind.ObjectMapper().registerModule(
            scala.__getattr__("MODULE$")
        )
        self._next_job = self._sc.dagScheduler().nextJobId()
        self._stages_seen: set[int] = set()

    def drain(self) -> tuple[list[dict], list[dict], int]:
        """Jobs and newly seen stages since the last call, plus the
        number of job ids the store no longer holds."""
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        hi = self._sc.dagScheduler().nextJobId()
        jobs, stages, lost = [], [], 0
        for jid in range(self._next_job, hi):
            try:
                jobs.append(json.loads(self._json.writeValueAsString(store.job(jid))))
            except Exception:  # evicted from the store: counted as lost
                lost += 1
        self._next_job = hi
        for job in jobs:
            for sid in job["stageIds"]:
                if sid in self._stages_seen:
                    continue
                self._stages_seen.add(sid)
                try:
                    st = json.loads(self._json.writeValueAsString(store.lastStageAttempt(sid)))
                except Exception:
                    continue
                st["jobId"] = job["jobId"]
                stages.append(st)
        return jobs, stages, lost


def stream_listener():
    """A ``StreamingQueryListener`` that keeps run ids and per-batch
    progress (trigger, addBatch and walCommit times; state rows and
    commit time)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.run_ids: set[str] = set()
            self.batches: list[dict] = []

        def onQueryStarted(self, event):
            self.run_ids.add(str(event.runId))

        def onQueryProgress(self, event):
            p = event.progress
            self.run_ids.add(str(p.runId))
            d = p.durationMs or {}
            ops = p.stateOperators or []
            self.batches.append({
                "run_id": str(p.runId),
                "trigger_s": d.get("triggerExecution", 0) / 1000.0,
                "addbatch_s": d.get("addBatch", 0) / 1000.0,
                "walcommit_s": d.get("walCommit", 0) / 1000.0,
                "state_rows": sum(op.numRowsTotal for op in ops),
                "state_commit_s": sum(op.commitTimeMs for op in ops) / 1000.0,
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()
