"""Per-layer tracing for the benchmark's traced run, kept outside the program.

``Tracer.install()`` wraps the public functions of each library module in
place, in this process only. A wrapper records a span (name, layer, start,
end, parent span, operation id) when the calling operation is traced, and
otherwise calls straight through. Spans stay in memory; ``dump`` writes
them out at exit. ``spark_stage_totals`` and ``python_boundary_bytes`` read
Spark's own status stores, which work with the UI disabled.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import itertools
import json
import re
import sys
import threading
import time
from dataclasses import dataclass

PKG = "mini_lakehouse_control_plane_executor_spark"

# (layer, module, class or None for module functions, public functions)
TARGETS = [
    ("table.log", "table.log", "TransactionLog",
     ["commit", "snapshot", "find_txn", "latest_version", "list_versions",
      "list_checkpoints"]),
    ("table.table", "table.table", "LakehouseTable",
     ["create", "insert", "delete", "update", "compact", "vacuum", "read",
      "snapshot", "should_compact"]),
    ("functions.filters", "functions.filters", None, ["prune_files", "parse_filter"]),
    ("plans.query", "plans.query", None, ["apply_query"]),
    ("table.catalog", "table.catalog", "LakehouseSession",
     ["create_table", "table", "query", "sql", "submit_async", "job_wait",
      "job_result", "metrics_text"]),
    ("api.rest", "api.rest", "LakehouseRestServer", ["execute_sql", "metrics"]),
]


@dataclass
class Span:
    span_id: int
    parent_id: int | None
    op_id: str
    layer: str
    name: str
    start: float
    end: float = 0.0


class Tracer:
    """Span recorder. An operation opens a root span with ``op()``; spans
    opened by wrapped functions on the same thread nest under it. Work the
    library hands to another thread (the async job runner, REST handler
    threads) starts with an empty stack and adopts ``handoff``, the root of
    the one operation that is allowed to hand work off at a time."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counters: dict[str, float] = {}
        self.handoff: Span | None = None
        self._ids = itertools.count(1)
        self._tl = threading.local()
        self._mu = threading.Lock()

    # -- recording -------------------------------------------------------

    def _open(self, layer: str, name: str, parent: Span | None, op_id: str) -> Span:
        span = Span(next(self._ids), parent.span_id if parent else None, op_id,
                    layer, name, time.perf_counter())
        with self._mu:
            self.spans.append(span)
        return span

    def count(self, key: str, n: float) -> None:
        with self._mu:
            self.counters[key] = self.counters.get(key, 0) + n

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        """A span around a block of the benchmark's own code, nested under
        the calling thread's open span; no-op outside a traced op."""
        stack = getattr(self._tl, "stack", None)
        if not stack:
            yield
            return
        span = self._open(layer, name, stack[-1], stack[-1].op_id)
        stack.append(span)
        try:
            yield
        finally:
            span.end = time.perf_counter()
            stack.pop()

    def op(self, op_id: str, kind: str, traced: bool, hands_off: bool = False):
        """Context manager around one benchmark operation."""
        return _OpScope(self, op_id, kind, traced, hands_off)

    def _wrap(self, fn, layer: str, name: str, on_result=None):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            tl = tracer._tl
            stack = getattr(tl, "stack", None)
            adopted = False
            if not stack:
                parent = tracer.handoff
                if parent is None:
                    return fn(*args, **kwargs)
                stack = tl.stack = [parent]
                adopted = True
            span = tracer._open(layer, name, stack[-1], stack[-1].op_id)
            stack.append(span)
            try:
                result = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(tracer, args, result)
                return result
            finally:
                span.end = time.perf_counter()
                stack.pop()
                if adopted:
                    tl.stack = []

        return traced

    def install(self) -> None:
        """Wrap every TARGETS function; module functions are also rebound
        wherever another library module imported them by name."""
        for layer, mod_name, cls_name, names in TARGETS:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            owner = getattr(mod, cls_name) if cls_name else mod
            for name in names:
                raw = inspect.getattr_static(owner, name)
                hook = _RESULT_HOOKS.get(name)
                if isinstance(raw, staticmethod):
                    wrapped = staticmethod(self._wrap(raw.__func__, layer, name, hook))
                    setattr(owner, name, wrapped)
                    continue
                orig = getattr(owner, name)
                wrapped = self._wrap(orig, layer, name, hook)
                setattr(owner, name, wrapped)
                if cls_name is None:
                    for other in list(sys.modules.values()):
                        if (getattr(other, "__name__", "").startswith(PKG)
                                and getattr(other, name, None) is orig):
                            setattr(other, name, wrapped)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([s.__dict__ for s in self.spans], fh)


class _OpScope:
    def __init__(self, tracer: Tracer, op_id: str, kind: str, traced: bool,
                 hands_off: bool):
        self.tracer, self.op_id, self.kind = tracer, op_id, kind
        self.traced, self.hands_off = traced, hands_off
        self.root: Span | None = None

    def __enter__(self):
        if self.traced:
            self.root = self.tracer._open("bench", self.kind, None, self.op_id)
            self.tracer._tl.stack = [self.root]
            if self.hands_off:
                self.tracer.handoff = self.root
        return self

    def __exit__(self, *exc):
        if self.root is not None:
            self.root.end = time.perf_counter()
            self.tracer._tl.stack = []
            if self.hands_off:
                self.tracer.handoff = None
        return False


def _prune_hook(tracer: Tracer, args, result) -> None:
    tracer.count("prune_in", len(args[0]))
    tracer.count("prune_kept", len(result))


_RESULT_HOOKS = {"prune_files": _prune_hook}


# -- span analysis -------------------------------------------------------


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds of self time per layer: each span's duration minus the part
    of its interval that its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent_id is not None:
            children.setdefault(s.parent_id, []).append((s.start, s.end))
    out: dict[str, float] = {}
    for s in spans:
        clipped = [(max(a, s.start), min(b, s.end))
                   for a, b in children.get(s.span_id, []) if b > s.start and a < s.end]
        out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - _union_length(clipped)
    return out


# -- Spark status stores -------------------------------------------------

_STAGE_FIELDS = {
    "executor_run_ms": lambda s: s.executorRunTime(),
    "executor_cpu_ms": lambda s: s.executorCpuTime() / 1e6,
    "gc_ms": lambda s: s.jvmGcTime(),
    "shuffle_read_bytes": lambda s: s.shuffleReadBytes(),
    "shuffle_write_bytes": lambda s: s.shuffleWriteBytes(),
    "spill_bytes": lambda s: s.memoryBytesSpilled() + s.diskBytesSpilled(),
    "input_bytes": lambda s: s.inputBytes(),
    "tasks": lambda s: s.numTasks(),
}


def _jobs(spark) -> list:
    store = spark.sparkContext._jsc.sc().statusStore()
    seq = store.jobsList(spark.sparkContext._jvm.java.util.ArrayList())
    return [seq.apply(i) for i in range(seq.size())]


def max_job_id(spark) -> int:
    return max((j.jobId() for j in _jobs(spark)), default=-1)


def spark_stage_totals(spark, after_job_id: int) -> tuple[dict[str, float], list[tuple[float, float]]]:
    """Summed stage metrics of every job newer than ``after_job_id``, plus
    the (start, end) wall-clock intervals of those stages in epoch seconds."""
    store = spark.sparkContext._jsc.sc().statusStore()
    totals = {k: 0.0 for k in _STAGE_FIELDS}
    totals["stages"] = 0
    intervals: list[tuple[float, float]] = []
    seen: set[int] = set()
    for job in _jobs(spark):
        if job.jobId() <= after_job_id:
            continue
        ids = job.stageIds()
        for i in range(ids.size()):
            sid = ids.apply(i)
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # stage never attempted (skipped) or evicted
                continue
            if str(st.status()) == "SKIPPED":
                continue
            totals["stages"] += 1
            for key, get in _STAGE_FIELDS.items():
                totals[key] += get(st)
            sub, done = st.submissionTime(), st.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0))
    return totals, intervals


_SIZE = re.compile(r"([0-9.]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def python_boundary_bytes(spark, after_execution_id: int) -> tuple[float, int]:
    """Bytes sent to plus returned from Python workers, summed over the SQL
    metrics of SQL executions newer than ``after_execution_id``; also
    returns the newest execution id."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    total, newest = 0.0, after_execution_id
    for i in range(execs.size()):
        ex = execs.apply(i)
        eid = ex.executionId()
        newest = max(newest, eid)
        if eid <= after_execution_id:
            continue
        values = store.executionMetrics(eid)
        metrics = ex.metrics()
        seen: set[int] = set()
        for j in range(metrics.size()):
            m = metrics.apply(j)
            if m.accumulatorId() in seen or "Python workers" not in m.name():
                continue
            if not m.name().startswith(("data sent", "data returned")):
                continue
            seen.add(m.accumulatorId())
            v = values.get(m.accumulatorId())
            if v.isDefined():
                found = _SIZE.search(v.get())  # the total comes first
                if found:
                    total += float(found.group(1)) * _UNITS[found.group(2)]
    return total, newest


def newest_execution_id(spark) -> int:
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return max((execs.apply(i).executionId() for i in range(execs.size())), default=-1)
