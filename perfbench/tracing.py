"""Spans recorded around the benchmark's calls into the engine, plus the
parsers that turn Spark's event log and streaming progress into
per-layer numbers.

Nothing here reaches into the engine package: spans wrap the calls the
benchmark itself makes, the event log is Spark's own
(``spark.eventLog.enabled``), and streaming progress comes from a
``StreamingQueryListener`` registered on the benchmark's session.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float  # epoch seconds (time.time) so it lines up with Spark's clock
    end: float
    parent: int | None
    op: int | None
    sid: int

    @property
    def dur(self) -> float:
        return self.end - self.start


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total = 0.0
    cur_lo = cur_hi = None
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


def clip(intervals: list[tuple[float, float]], lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]


class Tracer:
    """In-memory span recorder; spans are written out once, at the end."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        sp = Span(name, time.time(), 0.0, parent, op, sid)
        self.spans.append(sp)
        self._stack.append(sid)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.time()

    def self_time(self, sp: Span) -> float:
        """Span duration minus the part of it its child spans cover."""
        kids = [(c.start, c.end) for c in self.spans if c.parent == sp.sid]
        return sp.dur - union_length(clip(kids, sp.start, sp.end))

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(vars(s)) + "\n")


class NullTracer:
    """Tracing off: spans cost one shared no-op context manager."""

    _null = contextlib.nullcontext()

    def span(self, name: str, op: int | None = None):
        return self._null


# --------------------------------------------------------------------------
# Spark event log


@dataclass
class JobRec:
    job_id: int
    start: float  # epoch seconds
    end: float


@dataclass
class TaskRec:
    stage_id: int
    launch: float  # epoch seconds
    run_s: float
    cpu_s: float
    gc_s: float
    spill_bytes: int
    shuffle_bytes: int
    python_s: float


@dataclass
class EventLog:
    jobs: list[JobRec] = field(default_factory=list)
    tasks: list[TaskRec] = field(default_factory=list)


# SQL metric carried by the pandas/Arrow exec nodes (MapInPandas,
# FlatMapGroupsInPandas, ...): wall time spent in Python workers, in ms.
PYTHON_WORKER_METRIC = "time to run Python workers"


def event_log_files(log_dir: str) -> list[str]:
    """Every event file under ``log_dir``: plain files and the rolling
    ``eventlog_v2_*/events_*`` layout, in write order."""
    out = []
    for root, _dirs, files in os.walk(log_dir):
        for f in sorted(files):
            if f.startswith(".") or f.startswith("appstatus"):
                continue
            out.append(os.path.join(root, f))
    return sorted(out)


def parse_event_log(log_dir: str) -> EventLog:
    log = EventLog()
    open_jobs: dict[int, JobRec] = {}
    for path in event_log_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    open_jobs[jid] = JobRec(jid, ev["Submission Time"] / 1000.0, 0.0)
                elif kind == "SparkListenerJobEnd":
                    job = open_jobs.pop(ev["Job ID"], None)
                    if job is not None:
                        job.end = ev["Completion Time"] / 1000.0
                        log.jobs.append(job)
                elif kind == "SparkListenerTaskEnd":
                    log.tasks.append(_task(ev))
    return log


def _task(ev: dict) -> TaskRec:
    info = ev.get("Task Info", {})
    m = ev.get("Task Metrics") or {}
    shuffle_w = m.get("Shuffle Write Metrics", {}) or {}
    python_ms = 0.0
    for acc in info.get("Accumulables", []):
        if acc.get("Name") == PYTHON_WORKER_METRIC:
            python_ms += float(acc.get("Update", 0) or 0)
    return TaskRec(
        stage_id=ev.get("Stage ID", -1),
        launch=info.get("Launch Time", 0) / 1000.0,
        run_s=m.get("Executor Run Time", 0) / 1000.0,
        cpu_s=m.get("Executor CPU Time", 0) / 1e9,
        gc_s=m.get("JVM GC Time", 0) / 1000.0,
        spill_bytes=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        shuffle_bytes=shuffle_w.get("Shuffle Bytes Written", 0),
        python_s=python_ms / 1000.0,
    )


def jobs_in(log: EventLog, lo: float, hi: float) -> list[JobRec]:
    """Jobs submitted inside [lo, hi] (the benchmark is the only client,
    so an op's jobs are the jobs submitted during its span)."""
    return [j for j in log.jobs if lo <= j.start <= hi]


def tasks_in(log: EventLog, lo: float, hi: float) -> list[TaskRec]:
    return [t for t in log.tasks if lo <= t.launch <= hi]


# --------------------------------------------------------------------------
# Streaming progress


def make_progress_listener(sink: list[dict]):
    """A StreamingQueryListener appending each micro-batch's progress,
    as a dict keyed by its trigger timestamp, to ``sink``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            sink.append(
                {
                    "ts": p.timestamp,
                    "batch": p.batchId,
                    "rows": p.numInputRows,
                    "duration_ms": dict(p.durationMs),
                    "state": [
                        {
                            "rows": s.numRowsTotal,
                            "bytes": s.memoryUsedBytes,
                            "commit_ms": s.commitTimeMs,
                            "update_ms": s.allUpdatesTimeMs,
                        }
                        for s in p.stateOperators
                    ],
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()
