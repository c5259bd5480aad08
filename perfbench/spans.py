"""Tracing for the traced run: in-memory spans, wrappers around the
package's public functions, and Spark's status store read through py4j.

Nothing here runs in an untraced run, and the status store is only read
after a traced call has returned, never inside a timed sample.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import statistics
import sys
import time
from dataclasses import dataclass


# Offset from ``time.perf_counter`` (span clock) to epoch seconds (the
# status store's stage timestamps).
EPOCH = time.time() - time.perf_counter()


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    trace: int


class Tracer:
    """Spans kept in memory; ``dump`` writes them once, at the end."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.trace = 0  # current trace: one per query sample or job

    def new_trace(self) -> int:
        self.trace += 1
        return self.trace

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, time.perf_counter(), 0.0, parent, self.trace)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def _named(self, name: str, traces) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.trace in traces]

    def total(self, name: str, traces) -> float:
        """Summed duration of the spans called ``name`` in ``traces``."""
        return sum(s.end - s.start for s in self._named(name, traces))

    def calls(self, name: str, traces) -> int:
        return len(self._named(name, traces))

    def dump(self, path: str) -> None:
        st = self_times(self.spans)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s.__dict__, "self": st[s.id]}) + "\n")


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: (s.end - s.start) - covered(kids.get(s.id, []), s.start, s.end)
        for s in spans
    }


# ------------------------------------------------------ instrumentation


def _spanned(tracer: Tracer, span_name: str, fn):
    @functools.wraps(fn)
    def wrapper(*a, **kw):
        with tracer.span(span_name):
            return fn(*a, **kw)

    return wrapper


def instrument(tracer: Tracer, targets: dict[str, tuple[str, str]]):
    """Wrap package functions in spans: ``targets`` maps span name to
    ``(module, function)``. Every module-level binding of the original
    (``from x import f`` copies) is rebound. Returns an undo function."""
    undo = []
    for span_name, (mod_name, fn_name) in targets.items():
        orig = getattr(sys.modules[mod_name], fn_name)
        wrapper = _spanned(tracer, span_name, orig)
        for name, mod in list(sys.modules.items()):
            if not name.startswith("aced_etl_pod_spark") or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, wrapper)
                    undo.append((mod, attr, orig))

    def restore() -> None:
        for mod, attr, orig in undo:
            setattr(mod, attr, orig)

    return restore


# ------------------------------------------------------ Spark status store


STAGE_FIELDS = {
    # metric name: (StageData accessor, scale to the reported unit)
    "spark.exec_run_s": ("executorRunTime", 1e-3),
    "spark.exec_cpu_s": ("executorCpuTime", 1e-9),
    "spark.gc_s": ("jvmGcTime", 1e-3),
    # rows, not bytes: this Spark build's inputBytes counts only a few KB
    # of footer reads for a 600 k-row parquet scan
    "spark.input_rows": ("inputRecords", 1),
    "spark.shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spark.shuffle_read_bytes": ("shuffleReadBytes", 1),
    "spark.spill_bytes": ("diskBytesSpilled", 1),
}


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1e3 if opt.isDefined() else None


_GROUPS = itertools.count(1)


class SparkProbe:
    """Jobs, stages and task metrics of one labelled call, from the status
    store (``sc._jsc.sc().statusStore()``), keyed by a job group."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    @contextlib.contextmanager
    def group(self):
        """Run the body under a fresh job group; yields the group id."""
        gid = f"perfbench-{next(_GROUPS)}"
        self.sc.setJobGroup(gid, gid)
        try:
            yield gid
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def stages(self, gid: str) -> dict:
        """Summed stage metrics of every job in ``gid`` plus the stage
        intervals (epoch seconds) and the worst max/median task time."""
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(gid)
        out = {k: 0.0 for k in STAGE_FIELDS}
        out.update({"spark.jobs": len(jobs), "spark.stages": 0, "spark.tasks": 0})
        intervals, skew = [], 1.0
        seen = set()
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Exception:  # never submitted (skipped)
                    continue
                if sd.status().toString() != "COMPLETE":
                    continue
                out["spark.stages"] += 1
                out["spark.tasks"] += sd.numCompleteTasks()
                for name, (field, scale) in STAGE_FIELDS.items():
                    out[name] += getattr(sd, field)() * scale
                a, b = _opt_ms(sd.submissionTime()), _opt_ms(sd.completionTime())
                if a is not None and b is not None:
                    intervals.append((a, b))
                if sd.numCompleteTasks() >= 2:
                    skew = max(skew, self._skew(sid, sd.attemptId()))
        out["intervals"] = intervals  # epoch seconds
        out["spark.task_skew"] = skew
        return out

    def _skew(self, sid: int, attempt: int) -> float:
        tasks = self.store.taskList(sid, attempt, 100_000)
        times = sorted(
            tasks.apply(i).taskMetrics().get().executorRunTime()
            for i in range(tasks.size())
            if tasks.apply(i).taskMetrics().isDefined()
        )
        if len(times) < 2:
            return 1.0
        med = statistics.median(times)
        return times[-1] / med if med > 0 else 1.0


PYTHON_METRICS = {
    "functions.python_bytes_sent": "pythonDataSent",
    "functions.python_bytes_received": "pythonDataReceived",
}


def python_bytes(df) -> dict[str, float]:
    """Python SQL metrics of the Arrow/Python exec nodes in the final
    (post-AQE) plan of a collected DataFrame."""
    out = {k: 0.0 for k in PYTHON_METRICS}
    plan = df._jdf.queryExecution().executedPlan()
    stack = [plan]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            stack.append(node.child())
            continue
        metrics = node.metrics()
        for name, key in PYTHON_METRICS.items():
            m = metrics.get(key)
            if m.isDefined():
                out[name] += m.get().value()
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return out
