"""Spans timed from outside the program, with Spark's own stage metrics.

A ``Tracer`` records spans (name, start, end, parent) in memory and gives
every span its own Spark job group, so after the traced block the jobs,
stages and tasks each span launched can be read back from the driver's
status store (``SparkContext.statusStore``; populated even with the UI
disabled). ``patched`` installs span wrappers around public functions for
the duration of one traced pass and restores the originals afterwards.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from typing import Callable, Dict, Iterator, List, Optional


class Span:
    __slots__ = ("id", "name", "parent", "start", "end", "attrs", "jobs", "stages")

    def __init__(self, sid: int, name: str, parent: Optional[int], start: float):
        self.id = sid
        self.name = name
        self.parent = parent
        self.start = start
        self.end = start
        self.attrs: Dict = {}
        self.jobs: List[int] = []
        self.stages: List[Dict] = []

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def as_dict(self) -> Dict:
        return {"id": self.id, "name": self.name, "parent": self.parent,
                "start": self.start, "end": self.end, "attrs": self.attrs,
                "jobs": self.jobs, "stages": self.stages}


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: List[Span] = []
        self._stack: List[Span] = []

    def _set_group(self, span: Optional[Span]) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"perfbench-span-{span.id}", span.name)

    @contextlib.contextmanager
    def span(self, name: str, **attrs) -> Iterator[Span]:
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.id if parent else None, time.perf_counter())
        sp.attrs.update(attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    def wrap(self, fn: Callable, name: str, key: Optional[Callable] = None) -> Callable:
        """A wrapper that runs ``fn`` inside a span; ``key(*args, **kw)``
        may add a suffix (for example the table name of a write)."""
        tracer = self

        def wrapper(*args, **kwargs):
            label = f"{name}[{key(*args, **kwargs)}]" if key else name
            with tracer.span(label):
                return fn(*args, **kwargs)

        wrapper.__wrapped__ = fn
        return wrapper

    # ---------------------------------------------------- status store

    def collect(self) -> None:
        """Attach job ids and per-stage metrics to every span (again, for
        spans already collected). Call soon after the traced block, before
        the store evicts old jobs."""
        store = self.sc._jsc.sc().statusStore()
        tracker = self.sc.statusTracker()
        for sp in self.spans:
            jobs = sorted(tracker.getJobIdsForGroup(f"perfbench-span-{sp.id}"))
            sp.jobs = jobs
            sp.stages = []
            seen = set()
            for jid in jobs:
                ids = store.job(jid).stageIds()
                for k in range(ids.length()):
                    sid = ids.apply(k)
                    if sid in seen:
                        continue
                    seen.add(sid)
                    st = _stage(store, sid)
                    if st is not None:
                        sp.stages.append(st)

    def children(self, sp: Span) -> List[Span]:
        return [s for s in self.spans if s.parent == sp.id]

    def subtree(self, sp: Span) -> List[Span]:
        out, todo = [], [sp]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s))
        return out

    def find(self, name: str) -> List[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.as_dict() for s in self.spans], f, indent=1)


def _stage(store, sid: int) -> Optional[Dict]:
    try:
        sd = store.lastStageAttempt(sid)
    except Exception:  # evicted or never submitted
        return None
    if sd.status().toString() == "SKIPPED":
        return None
    sub, done = sd.submissionTime(), sd.completionTime()
    wall_ms = (done.get().getTime() - sub.get().getTime()
               if sub.isDefined() and done.isDefined() else 0)
    tasks = store.taskList(sid, sd.attemptId(), 100_000)
    run_ms = []
    for i in range(tasks.length()):
        tm = tasks.apply(i).taskMetrics()
        if tm.isDefined():
            run_ms.append(int(tm.get().executorRunTime()))
    return {
        "stage": int(sid),
        "name": str(sd.name()),
        "tasks": int(sd.numTasks()),
        "wall_ms": int(wall_ms),
        "run_ms": int(sd.executorRunTime()),
        "gc_ms": int(sd.jvmGcTime()),
        "shuffle_read": int(sd.shuffleReadBytes()),
        "shuffle_write": int(sd.shuffleWriteBytes()),
        "spill": int(sd.memoryBytesSpilled()) + int(sd.diskBytesSpilled()),
        "peak_exec_mem": int(sd.peakExecutionMemory()),
        "task_run_ms": run_ms,
    }


def task_skew(stage: Dict) -> float:
    """max / median task run time of one stage."""
    ms = [m for m in stage["task_run_ms"]]
    if not ms:
        return 0.0
    med = statistics.median(ms)
    return max(ms) / med if med else 0.0


@contextlib.contextmanager
def patched(targets: List[tuple]) -> Iterator[None]:
    """``targets``: (owner, attribute, replacement). Restores on exit."""
    saved = [(owner, attr, owner.__dict__[attr]) for owner, attr, _ in targets]
    try:
        for owner, attr, new in targets:
            setattr(owner, attr, new)
        yield
    finally:
        for owner, attr, old in saved:
            setattr(owner, attr, old)
