"""Tracing for the benchmark's traced run.

- `Tracer` records one span per call into a layer: name, start, end,
  parent span and an op id shared by every span of one op. Spans stay
  in memory and are written out when the run ends.
- `instrument` wraps the module-level references through which the
  query corpus reaches the `tables` and `operators` layers, so their
  calls get spans without touching the package.
- `SparkCounters` gives each traced op its own Spark job group and
  reads the op's jobs, stages and task metrics from the status tracker
  and status store right after the op ends (both work with the UI
  disabled; reading at once keeps the jobs inside the store's
  retention limit).
- `self_times` turns spans into per-layer self time: a span's duration
  minus the part of it that its child spans cover.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import threading
import time
from dataclasses import asdict, dataclass

from stats import clip, union_length

PACKAGE = "de_gcp_lakehouse_iceberg_spark"


@dataclass
class Span:
    sid: int
    op: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0


class Tracer:
    """Collects spans for ops marked traced; untraced ops and calls
    outside any op cost one thread-local lookup."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def op(self, name: str, traced: bool = True):
        """Root span of one op; yields the op id (None when untraced)."""
        if not traced:
            yield None
            return
        with self._lock:
            sid = next(self._ids)
        span = Span(sid, sid, None, f"op.{name}", time.time())
        st = self._stack()
        st.append(span)
        try:
            yield sid
        finally:
            span.end = time.time()
            st.pop()
            with self._lock:
                self.spans.append(span)

    @contextlib.contextmanager
    def span(self, name: str):
        st = self._stack()
        if not st:
            yield
            return
        parent = st[-1]
        with self._lock:
            sid = next(self._ids)
        span = Span(sid, parent.op, parent.sid, name, time.time())
        st.append(span)
        try:
            yield
        finally:
            span.end = time.time()
            st.pop()
            with self._lock:
                self.spans.append(span)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped_by_tracer__ = True
        return traced

    def to_json(self) -> list[dict]:
        return [asdict(s) for s in sorted(self.spans, key=lambda s: s.sid)]


def instrument(tracer: Tracer, modules) -> list[tuple[object, str, object]]:
    """Wrap, in each given module, every attribute that refers to a
    function of the `tables` or `operators` layer. Returns the undo
    list for `restore`."""
    undo = []
    for mod in modules:
        for attr, val in list(vars(mod).items()):
            origin = getattr(val, "__module__", "") or ""
            if not callable(val) or isinstance(val, type):
                continue
            if getattr(val, "__wrapped_by_tracer__", False):
                continue
            if origin == f"{PACKAGE}.tables":
                name = f"tables.{attr}"
            elif origin.startswith(f"{PACKAGE}.operators."):
                name = f"operators.{attr}"
            else:
                continue
            undo.append((mod, attr, val))
            setattr(mod, attr, tracer.wrap(val, name))
    return undo


def restore(undo: list[tuple[object, str, object]]) -> None:
    for mod, attr, val in reversed(undo):
        setattr(mod, attr, val)


def self_times(spans: list[Span]) -> dict[int, dict[str, float]]:
    """Per op, per span name: summed self time in seconds. Children
    count only where they overlap their parent; spans opened as nested
    context managers, as the Tracer records them, lie inside their
    parent, so an op's self times then sum to its wall time."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[int, dict[str, float]] = {}
    for s in spans:
        kids = clip(
            [(c.start, c.end) for c in children.get(s.sid, [])], s.start, s.end
        )
        own = (s.end - s.start) - union_length(kids)
        per = out.setdefault(s.op, {})
        per[s.name] = per.get(s.name, 0.0) + own
    return out


# ---------------------------------------------------------------------------
# Spark counters per op
# ---------------------------------------------------------------------------
COUNTER_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "outside_jobs_s",
    "executor_run_s",
    "executor_cpu_s",
    "executor_offcpu_s",
    "gc_s",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


class SparkCounters:
    """Job-group counters for one op at a time per thread."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()

    def begin(self, group: str) -> None:
        self._sc.setJobGroup(group, group)

    def end(self) -> None:
        self._sc.setLocalProperty("spark.jobGroup.id", None)
        self._sc.setLocalProperty("spark.job.description", None)

    def read(self, group: str, start: float, end: float) -> dict[str, float]:
        """Counters of every job the op ran, its wall clock [start,
        end) in epoch seconds. Waits for the listener bus to drain so
        the status store holds the op's finished jobs."""
        self._bus.waitUntilEmpty()
        tracker = self._sc.statusTracker()
        out = dict.fromkeys(COUNTER_KEYS, 0.0)
        intervals = []
        for jid in tracker.getJobIdsForGroup(group):
            job = self._store.job(jid)
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined():
                hi = done.get().getTime() / 1e3 if done.isDefined() else end
                intervals.append((sub.get().getTime() / 1e3, hi))
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info is not None else []:
                st = self._store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                run_s = st.executorRunTime() / 1e3
                cpu_s = st.executorCpuTime() / 1e9
                out["executor_run_s"] += run_s
                out["executor_cpu_s"] += cpu_s
                out["executor_offcpu_s"] += max(0.0, run_s - cpu_s)
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["input_bytes"] += st.inputBytes()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.diskBytesSpilled()
        covered = union_length(clip(intervals, start, end))
        out["outside_jobs_s"] = max(0.0, (end - start) - covered)
        return out
