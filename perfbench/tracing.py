"""Spans, layer wrappers and Spark event-log accounting.

Everything here observes the program from outside: spans are opened by
the benchmark around its calls into each layer, the optional wrappers
replace a module attribute for the duration of a run and restore it
afterwards, and engine work (jobs, stages, tasks and their metrics) is
read back from Spark's own event log once the session has stopped.

Job attribution is by time, not by job group: every Spark job is charged
to the innermost span whose interval contains the job's submission time.
The benchmark is a single closed-loop client, so spans of different
operations never overlap, and this works for jobs submitted from any
thread — including ``pipeline.collect``'s source thread pool, whose
threads do not inherit the caller's job group.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import threading
import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    op: int  # id of the operation (root span) this span belongs to
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; spans are written out when the run ends.

    A span opened on a thread with no open span of its own (a pool thread)
    is parented to the current operation's root span.
    """

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._root: Span | None = None

    @contextlib.contextmanager
    def span(self, name: str, **attrs) -> Iterator[Span]:
        stack = self._stack()
        parent = stack[-1] if stack else self._root
        with self._lock:
            s = Span(
                id=next(self._ids),
                op=parent.op if parent else -1,
                name=name,
                parent=parent.id if parent else None,
                start=time.time(),
                attrs=attrs,
            )
            if parent is None:
                s.op = s.id
                self._root = s
            self.spans.append(s)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            if s is self._root:
                self._root = None

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of its interval its children cover."""
        kids = self.children()
        return {
            s.id: s.duration - covered(
                [(max(c.start, s.start), min(c.end, s.end)) for c in kids.get(s.id, [])]
            )
            for s in self.spans
        }

    def innermost(self, t: float) -> Span | None:
        """The deepest (latest-opened) span whose interval contains ``t``."""
        best = None
        for s in self.spans:
            if s.start <= t <= (s.end or float("inf")):
                if best is None or s.start >= best.start:
                    best = s
        return best

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                rec = {
                    "id": s.id,
                    "op": s.op,
                    "name": s.name,
                    "parent": s.parent,
                    "start": s.start,
                    "end": s.end,
                    "self_s": round(selfs[s.id], 6),
                    **s.attrs,
                }
                f.write(json.dumps(rec, default=str) + "\n")


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------- wrappers


@contextlib.contextmanager
def patched(owner: object, attr: str, make: Callable[[Callable], Callable]) -> Iterator[None]:
    """Replace ``owner.attr`` with ``make(original)``; restore on exit."""
    original = getattr(owner, attr)
    setattr(owner, attr, make(original))
    try:
        yield
    finally:
        setattr(owner, attr, original)


def timed_by(tracer: Tracer, name: str) -> Callable[[Callable], Callable]:
    """Wrapper factory: run the original inside a span called ``name``."""

    def make(fn: Callable) -> Callable:
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return wrapper

    return make


def counted_by(acc) -> Callable[[Callable], Callable]:
    """Wrapper factory for executor-side functions: add 1 to the Spark
    accumulator ``acc`` per call. The wrapper is a closure, so Spark ships
    it to the Python workers by value together with the accumulator."""

    def make(fn: Callable) -> Callable:
        def wrapper(*args, **kwargs):
            acc.add(1)
            return fn(*args, **kwargs)

        return wrapper

    return make


# --------------------------------------------------------------- event log


@dataclass
class Job:
    id: int
    submitted: float  # epoch seconds
    completed: float = 0.0
    stages: set = field(default_factory=set)
    stages_run: int = 0
    tasks: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    # set by attribution: the operation (root span) the job is charged to,
    # and whether it ran while that operation's DataFrame was being built
    op: int | None = None
    in_build: bool = False


def read_event_log(path: str) -> list[Job]:
    """Jobs of one uncompressed Spark event log, with their tasks' metrics
    summed per job (a stage shared by several jobs counts for the first)."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, Job] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                job = Job(ev["Job ID"], ev["Submission Time"] / 1000.0)
                job.stages = set(ev.get("Stage IDs", []))
                jobs[job.id] = job
                for sid in job.stages:
                    stage_job.setdefault(sid, job)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].completed = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                job = stage_job.get(ev["Stage Info"]["Stage ID"])
                if job is not None:
                    job.stages_run += 1
            elif kind == "SparkListenerTaskEnd":
                job = stage_job.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if job is None or not m:
                    continue
                job.tasks += 1
                job.task_run_s += m.get("Executor Run Time", 0) / 1e3
                job.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                job.gc_s += m.get("JVM GC Time", 0) / 1e3
                job.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0
                )
                job.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                job.input_bytes += m.get("Input Metrics", {}).get("Bytes Read", 0)
    return sorted(jobs.values(), key=lambda j: j.id)


def attribute(jobs: list[Job], tracer: Tracer) -> None:
    """Charge each job to the innermost span open at its submission (the
    event log stores milliseconds, hence the 1 ms allowance)."""
    by_id = {s.id: s for s in tracer.spans}
    for job in jobs:
        span = tracer.innermost(job.submitted + 0.001)
        job.op = span.op if span else None
        while span is not None:
            job.in_build = job.in_build or span.name == "build"
            span = by_id.get(span.parent)


def event_log_file(log_dir: str) -> str:
    """The single finished event log a stopped session left in ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.endswith(".inprogress")]
    if len(names) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}: {names}")
    return os.path.join(log_dir, names[0])


# --------------------------------------------------------------- streaming


def streaming_listener_class():
    """A StreamingQueryListener that keeps every progress event in memory.

    Built lazily so importing this module does not import pyspark.
    """
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressRecorder(StreamingQueryListener):
        def __init__(self) -> None:
            self.progress: list[dict] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            self.progress.append(
                {
                    "received": time.time(),
                    "batch": p.batchId,
                    "input_rows": p.numInputRows,
                    "trigger_s": p.durationMs.get("triggerExecution", 0) / 1e3,
                    "add_batch_s": p.durationMs.get("addBatch", 0) / 1e3,
                }
            )

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return ProgressRecorder
