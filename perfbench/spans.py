"""Spans around calls into the package, and the Spark event log.

The tracer records one span per wrapped call: name, start, end (epoch
seconds), the span that was open when it began, and the run id. Spans
stay in memory and are written out once, at the end of the run. A
span opened on a thread with no open span of its own (the streaming
runner's ``foreachBatch`` callback runs on a py4j callback thread)
takes the innermost open span of the thread that started the tracer
as its parent.

The event log is Spark's own JSON-lines record of jobs and stages.
Jobs are attributed to spans by submission time, so work started on
any thread (including the streaming micro-batch thread, which does not
inherit a job group) lands in the span that was open when it began.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time
from collections.abc import Callable, Iterator
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._stacks: dict[int, list[int]] = {}
        self._main = threading.get_ident()

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[None]:
        tid = threading.get_ident()
        with self._lock:
            stack = self._stacks.setdefault(tid, [])
            if stack:
                parent = stack[-1]
            else:
                main = self._stacks.get(self._main) or [None]
                parent = main[-1]
            sid = len(self.spans)
            self.spans.append(Span(sid, name, time.time(), 0.0, parent, self.run_id))
            stack.append(sid)
        try:
            yield
        finally:
            with self._lock:
                self.spans[sid].end = time.time()
                stack.pop()

    def wrap(self, fn: Callable, name: str) -> Callable:
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def span(tracer: Tracer | None, name: str):
    """``tracer.span(name)``, or a no-op block when not tracing."""
    return tracer.span(name) if tracer else contextlib.nullcontext()


@contextlib.contextmanager
def patched(targets: list[tuple[object, str, str]], tracer: Tracer | None) -> Iterator[None]:
    """Replace ``owner.attr`` with a traced wrapper named ``span`` for
    the duration of the block; ``targets`` holds (owner, attr, span).
    Without a tracer nothing is replaced."""
    if tracer is None:
        yield
        return
    saved = []
    try:
        for owner, attr, name in targets:
            fn = getattr(owner, attr)
            saved.append((owner, attr, fn, attr in vars(owner)))
            setattr(owner, attr, tracer.wrap(fn, name))
        yield
    finally:
        for owner, attr, fn, own in reversed(saved):
            if own:
                setattr(owner, attr, fn)
            else:  # was resolved through the class; drop the shadow
                delattr(owner, attr)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cursor = 0.0, s.start
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, cursor), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s.id] = (s.end - s.start) - covered
    return out


# Stage accumulables summed into the spark.* layer metrics.
STAGE_METRICS = {
    "executor_run_ms": ("internal.metrics.executorRunTime",),
    "executor_cpu_ns": ("internal.metrics.executorCpuTime",),
    "gc_ms": ("internal.metrics.jvmGCTime",),
    "input_bytes": ("internal.metrics.input.bytesRead",),
    "shuffle_read_bytes": (
        "internal.metrics.shuffle.read.localBytesRead",
        "internal.metrics.shuffle.read.remoteBytesRead",
    ),
    "shuffle_write_bytes": ("internal.metrics.shuffle.write.bytesWritten",),
    "spill_bytes": (
        "internal.metrics.memoryBytesSpilled",
        "internal.metrics.diskBytesSpilled",
    ),
    "output_bytes": ("internal.metrics.output.bytesWritten",),
    "python_run_ms": ("time to run Python workers",),
}


@dataclass
class Job:
    id: int
    submitted: float  # epoch seconds
    stage_ids: list[int]


def read_eventlog(log_dir: str) -> tuple[list[Job], dict[int, dict[str, float]]]:
    """Jobs and per-stage metric sums from every event file under
    ``log_dir`` (plain or rolling layout, uncompressed)."""
    files = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")))
    files += [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    jobs: list[Job] = []
    stages: dict[int, dict[str, float]] = {}
    by_name = {n: k for k, names in STAGE_METRICS.items() for n in names}
    for path in files:
        with open(path) as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    e = json.loads(line)
                    jobs.append(Job(e["Job ID"], e["Submission Time"] / 1000.0,
                                    list(e["Stage IDs"])))
                elif '"SparkListenerStageCompleted"' in line:
                    info = json.loads(line)["Stage Info"]
                    m = {k: 0.0 for k in STAGE_METRICS}
                    m["tasks"] = float(info["Number of Tasks"])
                    for acc in info.get("Accumulables", []):
                        key = by_name.get(acc.get("Name"))
                        if key is not None:
                            m[key] += float(acc.get("Value") or 0)
                    stages[info["Stage ID"]] = m
    return jobs, stages


def spark_work(
    jobs: list[Job], stages: dict[int, dict[str, float]],
    windows: list[tuple[float, float]],
) -> dict[str, float]:
    """Jobs, completed stages and their summed metrics for the jobs
    submitted inside any of ``windows``."""
    out = {k: 0.0 for k in STAGE_METRICS}
    out.update(jobs=0.0, stages=0.0, tasks=0.0)
    seen: set[int] = set()
    for job in jobs:
        if not any(lo <= job.submitted <= hi for lo, hi in windows):
            continue
        out["jobs"] += 1
        for sid in job.stage_ids:
            m = stages.get(sid)
            if m is None or sid in seen:  # skipped: its shuffle was reused
                continue
            seen.add(sid)
            out["stages"] += 1
            for k, v in m.items():
                out[k] += v
    return out
