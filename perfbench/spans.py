"""Spans, Spark counters and streaming progress for the traced run.

A ``Tracer`` records one span per public call the benchmark makes
(name, start, end, parent, op id). Each span runs under its own Spark
job group, so after an operation the jobs it launched can be read back
from ``statusTracker()`` and their stages from the application status
store, which answers with the UI disabled. ``stream_listener``
registers a ``StreamingQueryListener`` that collects the per-micro-batch
phase durations of every streaming query.

Nothing here touches package code: spans wrap the benchmark's own calls
into the package, and ``patched`` swaps a package function for a
timing wrapper only for the duration of a ``with`` block.
"""

from __future__ import annotations

import contextlib
import sys
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    op: int
    id: int
    end: float = 0.0
    counters: dict[str, float] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of it its children cover.

    Children may overlap each other or stick out of the parent; only
    the union of their intervals, clipped to the parent, is taken off.
    """
    cuts = sorted(
        (max(c.start, span.start), min(c.end, span.end))
        for c in children
        if c.end > span.start and c.start < span.end
    )
    covered = 0.0
    cur_lo = cur_hi = None
    for lo, hi in cuts:
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return span.duration - covered


class Tracer:
    """In-memory span recorder. With ``spark=None`` spans carry no
    counters (used by the tests). With a ``listener`` from
    ``stream_listener``, the micro-batch phases of the streaming
    queries an operation started are added to its root span."""

    def __init__(self, spark=None, listener=None):
        self.spark = spark
        self.listener = listener
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._runs_seen = 0
        self.op = 0

    def next_op(self) -> int:
        """Start a new operation; its spans carry the returned id."""
        self.op += 1
        if self.listener is not None:
            self._runs_seen = len(self.listener.started)
        return self.op

    def _group(self, span: Span | None) -> str | None:
        return None if span is None else f"perfbench-{span.id}"

    def _set_group(self, span: Span | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        group = self._group(span)
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(group, span.name)

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            name=name,
            start=time.perf_counter(),
            parent=parent.id if parent else None,
            op=self.op,
            id=len(self.spans),
        )
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    def children(self, span: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == span.id]

    def self_time(self, span: Span) -> float:
        return self_time(span, self.children(span))

    def read_counters(self, op: int) -> None:
        """Attach Spark job/stage counters to every span of ``op``.
        Call right after the operation, while the status store still
        retains its jobs and stages."""
        if self.spark is None:
            return
        reader = SparkCounters(self.spark)
        spans = [s for s in self.spans if s.op == op]
        for s in spans:
            s.counters.update(reader.for_group(self._group(s)))
        if self.listener is not None and spans:
            # a streaming query runs its jobs under its run id as job group
            runs = self.listener.started[self._runs_seen :]
            root = spans[0]
            for run in runs:
                for k, v in reader.for_group(run).items():
                    if k == "task_skew":
                        root.counters[k] = max(root.counters[k], v)
                    else:
                        root.counters[k] += v
            root.counters.update(phase_seconds(progress_of(self.listener, runs)))

    def dump(self) -> list[dict]:
        return [
            {
                "name": s.name,
                "start": round(s.start, 6),
                "end": round(s.end, 6),
                "parent": s.parent,
                "op": s.op,
                "self_s": round(self.self_time(s), 6),
                **s.counters,
            }
            for s in self.spans
        ]


class SparkCounters:
    """Job, stage and task counters of one job group, from
    ``statusTracker()`` and ``AppStatusStore.lastStageAttempt``."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.tracker = sc.statusTracker()
        self.store = sc._jsc.sc().statusStore()
        self.gateway = sc._gateway
        self.jvm = spark._jvm

    def _stage(self, sid: int):
        from py4j.protocol import Py4JJavaError

        try:
            return self.store.lastStageAttempt(sid)
        except Py4JJavaError:  # evicted from the store
            return None

    def for_group(self, group: str) -> dict[str, float]:
        jobs = list(self.tracker.getJobIdsForGroup(group))
        out = {
            "jobs": float(len(jobs)),
            "stages": 0.0,
            "tasks": 0.0,
            "executor_run_s": 0.0,
            "executor_cpu_s": 0.0,
            "shuffle_read_mb": 0.0,
            "shuffle_write_mb": 0.0,
            "spill_mb": 0.0,
            "task_skew": 0.0,
        }
        stage_ids: set[int] = set()
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        slowest = None
        for sid in sorted(stage_ids):
            st = self._stage(sid)
            if st is None or str(st.status()) == "SKIPPED":
                continue
            run_ms = st.executorRunTime()
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["executor_run_s"] += run_ms / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["shuffle_read_mb"] += st.shuffleReadBytes() / 1e6
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
            out["spill_mb"] += st.diskBytesSpilled() / 1e6
            if slowest is None or run_ms > slowest[1]:
                slowest = (st, run_ms)
        if slowest is not None:
            out["task_skew"] = self._skew(slowest[0])
        return out

    def _skew(self, st) -> float:
        """max / median task run time of one stage."""
        q = self.gateway.new_array(self.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = self.store.taskSummary(st.stageId(), st.attemptId(), q)
        if not summary.isDefined():
            return 0.0
        run = summary.get().executorRunTime()
        median, top = run.apply(0), run.apply(1)
        return top / median if median > 0 else 1.0


STREAM_PHASES = {
    "latestOffset": "streaming.latest_offset_s",
    "queryPlanning": "streaming.query_planning_s",
    "addBatch": "streaming.add_batch_s",
    "walCommit": "streaming.wal_commit_s",
}


def stream_listener(spark):
    """Register a ``StreamingQueryListener`` that keeps the run id of
    every query started and every progress event. Start events arrive
    synchronously with ``start()``, progress events asynchronously."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.started: list[str] = []
            self.events: list[dict] = []

        def onQueryStarted(self, event):
            self.started.append(str(event.runId))

        def onQueryProgress(self, event):
            p = event.progress
            self.events.append({"run": str(p.runId), "ms": dict(p.durationMs)})

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Progress()
    spark.streams.addListener(listener)
    return listener


def progress_of(listener, runs: list[str], timeout: float = 5.0) -> list[dict]:
    """Progress events of the queries ``runs``, waiting until each has
    reported at least once."""
    deadline = time.monotonic() + timeout
    while True:
        events = [e for e in listener.events if e["run"] in runs]
        if {e["run"] for e in events} >= set(runs) or time.monotonic() > deadline:
            return events
        time.sleep(0.02)


def phase_seconds(events: list[dict]) -> dict[str, float]:
    """Sum of each named micro-batch phase over ``events``, plus the
    whole trigger time (``triggerExecution``)."""
    out = {name: 0.0 for name in STREAM_PHASES.values()}
    out["trigger_s"] = 0.0
    for e in events:
        for phase, name in STREAM_PHASES.items():
            out[name] += e["ms"].get(phase, 0) / 1e3
        out["trigger_s"] += e["ms"].get("triggerExecution", 0) / 1e3
    return out


@contextlib.contextmanager
def patched(package: str, func, wrapper):
    """Replace every module-level reference to ``func`` inside
    ``package`` with ``wrapper`` for the block, then put them back."""
    swapped = []
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not (mod_name == package or mod_name.startswith(package + ".")):
            continue
        for attr, val in list(vars(mod).items()):
            if val is func:
                setattr(mod, attr, wrapper)
                swapped.append((mod, attr))
    try:
        yield
    finally:
        for mod, attr in swapped:
            setattr(mod, attr, func)
