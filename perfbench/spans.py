"""Span recorder and Spark status-store reader for the traced run.

Spans are recorded from the benchmark's own files: :func:`install` wraps
every public function of the traced package modules and rebinds the
wrapper on EVERY module that bound the original name (a ``from x import
f`` at import time leaves a second binding that wrapping only the
defining module would miss), plus the query registries. Nothing inside
the package changes on disk; :meth:`Tracer.uninstall` restores every
binding.

A span holds name, start, end (epoch seconds), parent span id and the
query-run id. Spans stay in memory and are written out once, at the end.
Self time is a span's duration minus the part of its interval that its
children cover.
"""

from __future__ import annotations

import functools
import inspect
import sys
import threading
import time
from dataclasses import asdict, dataclass, field

PKG = "custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark"
#: Subpackages whose public functions get spans.
TRACED = ("sources", "queries", "operators", "plans", "streaming")


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None = None
    parent: int | None = None
    run: str | None = None
    attrs: dict = field(default_factory=dict)


class Recorder:
    """In-memory span store. Each thread has its own open-span stack; the
    query-run id is shared (one query runs at a time)."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.run: str | None = None
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, **attrs) -> Span:
        stack = self._stack()
        with self._lock:
            span = Span(len(self.spans), name, time.time(), None, stack[-1].id if stack else None, self.run, attrs)
            self.spans.append(span)
        stack.append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.time()
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()

    def add(self, name: str, start: float, end: float, parent: int | None = None, run: str | None = None, **attrs) -> Span:
        """Record a finished span with explicit times (listener events,
        status-store readings)."""
        with self._lock:
            span = Span(len(self.spans), name, start, end, parent, run, attrs)
            self.spans.append(span)
        return span

    def to_json(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """span id -> duration minus the union of its children's intervals
    (clipped to the span)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = [
            (max(c.start, s.start), min(c.end, s.end))
            for c in children.get(s.id, ())
            if c.end is not None and min(c.end, s.end) > max(c.start, s.start)
        ]
        out[s.id] = (s.end - s.start) - union_length(covered)
    return out


def layer_of(name: str) -> str:
    """Layer a span name belongs to, named after the package modules:
    ``operators.<module>``, ``sinks`` (sources.sinks), ``sources``,
    ``queries``, ``plans``, ``streaming``; anything else is its own
    first dotted component."""
    parts = name.split(".")
    if parts[0] == "operators" and len(parts) > 1:
        return f"operators.{parts[1]}"
    if parts[:2] == ["sources", "sinks"]:
        return "sinks"
    if parts[0].startswith(("queries[", "bench[")):
        return "queries"
    return parts[0]


#: Per-function result probes: turn a call's (args, kwargs, result) into
#: span attributes, so ratios are counted where the decision is made.
PROBES = {
    # None = the footer shortcut could not prove a row count; the caller
    # then launches a count job
    "plans.parallelism.scan_row_count": lambda a, kw, r: {"fallback": r is None},
    # spread returns its input unchanged unless it inserts a repartition
    "plans.parallelism.spread": lambda a, kw, r: {"repartition": r is not (a[0] if a else kw.get("df"))},
}


class Tracer:
    """Installs span wrappers over the package and the query registries."""

    def __init__(self, recorder: Recorder, registries: dict[str, dict]) -> None:
        self.rec = recorder
        self.registries = registries
        self._restore: list[tuple[object, str, object]] = []
        self._wrappers: dict[object, object] = {}

    def _wrap(self, fn, name: str):
        rec, probe = self.rec, PROBES.get(name)

        # functools.wraps keeps __module__/__qualname__, so a wrapper that a
        # UDF closure captures still pickles by reference to the original
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            span = rec.open(name)
            try:
                result = fn(*args, **kwargs)
            finally:
                rec.close(span)
            if probe is not None:
                span.attrs.update(probe(args, kwargs, result))
            return result

        return wrapper

    def _package_modules(self) -> list:
        return [m for n, m in list(sys.modules.items()) if m is not None and (n == PKG or n.startswith(PKG + "."))]

    def install(self, extra_modules: tuple = ()) -> None:
        traced = tuple(f"{PKG}.{sub}" for sub in TRACED)
        for mod in self._package_modules():
            if not mod.__name__.startswith(traced):
                continue
            for attr, obj in vars(mod).items():
                if inspect.isfunction(obj) and obj.__module__ == mod.__name__ and not attr.startswith("_"):
                    short = mod.__name__[len(PKG) + 1 :]
                    self._wrappers.setdefault(obj, self._wrap(obj, f"{short}.{obj.__name__}"))
        # rebind on every module holding the original, defining or importing
        for mod in [*self._package_modules(), *extra_modules]:
            for attr, obj in list(vars(mod).items()):
                if inspect.isfunction(obj) and obj in self._wrappers:
                    self._restore.append((mod, attr, obj))
                    setattr(mod, attr, self._wrappers[obj])
        for label, registry in self.registries.items():
            for key, fn in list(registry.items()):
                self._restore.append((registry, key, fn))
                registry[key] = self._wrap(fn, f"{label}[{key}]")

    def uninstall(self) -> None:
        for target, key, original in reversed(self._restore):
            if isinstance(target, dict):
                target[key] = original
            else:
                setattr(target, key, original)
        self._restore.clear()
        self._wrappers.clear()


def _epoch(iso: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def stream_listener(recorder: Recorder):
    """A StreamingQueryListener that records one span per query start and
    per micro-batch. Built lazily so importing this module needs no
    pyspark."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            t = _epoch(event.timestamp)
            recorder.add("streaming.listener.started", t, t, run=recorder.run, query=str(event.id))

        def onQueryProgress(self, event):
            p = event.progress
            start = _epoch(p.timestamp)
            dur = dict(p.durationMs)
            ops = list(p.stateOperators or ())
            recorder.add(
                "streaming.listener.batch",
                start,
                start + dur.get("triggerExecution", 0) / 1000.0,
                run=recorder.run,
                query=str(p.id),
                batch=p.batchId,
                input_rows=p.numInputRows,
                commit_s=(dur.get("walCommit", 0) + dur.get("commitOffsets", 0)) / 1000.0,
                state_rows=sum(op.numRowsTotal for op in ops),
                state_bytes=sum(op.memoryUsedBytes for op in ops),
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            t = time.time()
            recorder.add("streaming.listener.terminated", t, t, run=recorder.run, query=str(event.id))

    return _Listener()


class StatusReader:
    """Reads Spark's job/stage store and SQL store through py4j.

    Stages are read one id at a time with explicit empty arguments: the
    list call builds task-metric quantiles and throws without a quantiles
    array."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self.store = self._jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        jvm = sc._jvm
        self._conv = jvm.scala.jdk.javaapi.CollectionConverters
        self._no_status = jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)

    def drain(self, timeout_ms: int = 30_000) -> None:
        """Wait until the listener bus has delivered every queued event."""
        self._jsc.listenerBus().waitUntilEmpty(timeout_ms)

    def _list(self, seq) -> list:
        return list(self._conv.asJava(seq))

    @staticmethod
    def _opt(option):
        return option.get() if option.isDefined() else None

    def max_job_id(self) -> int:
        ids = [j.jobId() for j in self._list(self.store.jobsList(None))]
        return max(ids, default=-1)

    def jobs_after(self, job_id: int) -> list[dict]:
        out = []
        for j in self._list(self.store.jobsList(None)):
            jid = j.jobId()
            if jid <= job_id:
                continue
            submit, done = self._opt(j.submissionTime()), self._opt(j.completionTime())
            out.append(
                {
                    "id": jid,
                    "group": self._opt(j.jobGroup()),
                    "start": submit.getTime() / 1000.0 if submit is not None else None,
                    "end": done.getTime() / 1000.0 if done is not None else None,
                    "stages": [int(s) for s in self._list(j.stageIds())],
                    "status": j.status().toString(),
                }
            )
        return sorted(out, key=lambda d: d["id"])

    def stage(self, stage_id: int) -> dict:
        """Metrics of one stage summed over its attempts; skipped and
        pending attempts count as not run."""
        agg = {
            "ran": False, "tasks": 0, "failed_tasks": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
            "shuffle_write": 0, "shuffle_read": 0, "spill": 0, "peak_mem": 0,
        }
        attempts = self.store.stageData(stage_id, False, self._no_status, False, self._no_quantiles)
        for s in self._list(attempts):
            if s.status().toString() in ("SKIPPED", "PENDING"):
                continue
            agg["ran"] = True
            agg["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            agg["failed_tasks"] += s.numFailedTasks()
            agg["run_ms"] += s.executorRunTime()
            agg["cpu_ns"] += s.executorCpuTime()
            agg["gc_ms"] += s.jvmGcTime()
            agg["shuffle_write"] += s.shuffleWriteBytes()
            agg["shuffle_read"] += s.shuffleReadBytes()
            agg["spill"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            agg["peak_mem"] = max(agg["peak_mem"], s.peakExecutionMemory())
        return agg

    def sql_count(self) -> int:
        return int(self.sql.executionsCount())

    def executions_from(self, offset: int) -> list[dict]:
        out = []
        for e in self._list(self.sql.executionsList(offset, 1 << 30)):
            eid = e.executionId()
            names = [n.name() for n in self._list(self.sql.planGraph(eid).allNodes())]
            out.append(
                {
                    "id": eid,
                    "start": e.submissionTime() / 1000.0,
                    "exchanges": names.count("Exchange"),
                    "broadcast_exchanges": names.count("BroadcastExchange"),
                }
            )
        return out

    def persisted_bytes(self) -> int:
        """Memory + disk bytes of every RDD currently persisted."""
        return sum(r.memSize() + r.diskSize() for r in self._jsc.getRDDStorageInfo())
