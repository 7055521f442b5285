"""Spans recorded from outside the engine, plus Spark event-log intervals.

A span wraps one call into a public engine function: name, layer, start,
end, parent span and the request it belongs to. Spans stay in memory and
are written out once at the end of a traced run. Spark jobs are read back
from the event log and attached to the innermost span of their job group
(one job group per request) that was open when the job was submitted.

Also holds the pure statistics the benchmark reports (tail percentile,
self time, driver gap), so the tests can exercise them without Spark.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field
from pathlib import Path


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Total length covered by possibly overlapping [start, end]
    intervals, optionally clipped to [lo, hi]."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def tail(values) -> tuple[float, float, int] | None:
    """The highest percentile with at least ten samples beyond it:
    (value, percentile, samples). None when there are 10 or fewer."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return None
    i = n - 11  # xs[i] has exactly ten samples above it
    return xs[i], 100.0 * (i + 1) / n, n


def median(values) -> float:
    xs = sorted(values)
    if not xs:
        raise ValueError("median of no values")
    m = len(xs) // 2
    return xs[m] if len(xs) % 2 else 0.5 * (xs[m - 1] + xs[m])


@dataclass
class Span:
    id: int
    parent: int | None
    request: str
    name: str
    layer: str
    start: float
    end: float = 0.0
    jobs: list = field(default_factory=list)  # job ids attached to this span

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when enabled; a disabled tracer costs one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._request = ""

    @contextmanager
    def request(self, spark, request_id: str):
        """A root span (layer `bench`) for one request; every Spark job of
        the request runs under a job group named after it."""
        if not self.enabled:
            yield None
            return
        self._request = request_id
        spark.sparkContext.setJobGroup(request_id, request_id)
        try:
            with self._span(request_id, "bench") as root:
                yield root
        finally:
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            self._request = ""

    def span(self, name: str, layer: str):
        if not self.enabled:
            return nullcontext()
        return self._span(name, layer)

    @contextmanager
    def _span(self, name: str, layer: str):
        parent = self._stack[-1].id if self._stack else None
        sp = Span(next(self._ids), parent, self._request, name, layer, time.time())
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()

    def attach(self, jobs: dict) -> None:
        """Attach event-log jobs to the innermost span of their request
        that contains the job's submission time."""
        by_request: dict[str, list[Span]] = {}
        for sp in self.spans:
            by_request.setdefault(sp.request, []).append(sp)
        for jid, job in jobs.items():
            best = None
            for sp in by_request.get(job.group or "", ()):
                if sp.start <= job.start <= sp.end and (
                    best is None or sp.start >= best.start
                ):
                    best = sp
            if best is not None:
                best.jobs.append(jid)

    def write(self, path: Path, jobs: dict) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps(sp.__dict__) + "\n")
            for jid, job in sorted(jobs.items()):
                fh.write(json.dumps({"job": jid, **job.__dict__}) + "\n")


def children(spans) -> dict[int, list[Span]]:
    out: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            out.setdefault(sp.parent, []).append(sp)
    return out


def self_times(spans, jobs: dict) -> dict[str, float]:
    """Per-layer self time: each span's wall minus the part of it covered
    by its child spans and its attached Spark jobs. The jobs' own time is
    the `spark` layer (the union of each span's attached job intervals)."""
    kids = children(spans)
    out: dict[str, float] = {}
    for sp in spans:
        job_iv = [(jobs[j].start, jobs[j].end) for j in sp.jobs]
        covered = [(c.start, c.end) for c in kids.get(sp.id, ())] + job_iv
        own = sp.wall - union_length(covered, sp.start, sp.end)
        out[sp.layer] = out.get(sp.layer, 0.0) + own
        out["spark"] = out.get("spark", 0.0) + union_length(job_iv, sp.start, sp.end)
    return out


def descendant_jobs(span: Span, spans) -> list[int]:
    kids = children(spans)
    out, todo = [], [span]
    while todo:
        sp = todo.pop()
        out.extend(sp.jobs)
        todo.extend(kids.get(sp.id, ()))
    return out


def driver_gap(span: Span, spans, jobs: dict) -> float:
    """Wall of a call not covered by any Spark job run beneath it."""
    iv = [(jobs[j].start, jobs[j].end) for j in descendant_jobs(span, spans)]
    return span.wall - union_length(iv, span.start, span.end)


# --- Spark event log -------------------------------------------------------


@dataclass
class Job:
    start: float
    end: float
    group: str | None
    sql: int | None
    stages: list


@dataclass
class Task:
    stage: str
    launch: float
    finish: float
    run_ms: float
    cpu_ns: float
    gc_ms: float
    shuffle_write_bytes: int
    shuffle_read_records: int
    input_records: int
    python_bytes: int


PYTHON_METRICS = ("data sent to Python workers", "data returned from Python workers")


def read_event_logs(directory: Path) -> tuple[dict, list]:
    """Jobs (keyed by '<file>:<job id>') and tasks from every event-log
    file in a directory (one file per SparkContext)."""
    jobs: dict[str, Job] = {}
    tasks: list[Task] = []
    for n, path in enumerate(sorted(p for p in directory.iterdir() if p.is_file())):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = f"{n}:{ev['Job ID']}"
                    props = ev.get("Properties") or {}
                    sql = props.get("spark.sql.execution.id")
                    jobs[jid] = Job(
                        ev["Submission Time"] / 1000.0,
                        ev["Submission Time"] / 1000.0,
                        props.get("spark.jobGroup.id"),
                        int(sql) if sql is not None else None,
                        [f"{n}:{s}" for s in ev.get("Stage IDs", [])],
                    )
                elif kind == "SparkListenerJobEnd":
                    jid = f"{n}:{ev['Job ID']}"
                    if jid in jobs:
                        jobs[jid].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    py = sum(
                        int(a.get("Update", 0))
                        for a in info.get("Accumulables", [])
                        if a.get("Name") in PYTHON_METRICS
                    )
                    tasks.append(
                        Task(
                            stage=f"{n}:{ev['Stage ID']}",
                            launch=info["Launch Time"] / 1000.0,
                            finish=info["Finish Time"] / 1000.0,
                            run_ms=m.get("Executor Run Time", 0),
                            cpu_ns=m.get("Executor CPU Time", 0),
                            gc_ms=m.get("JVM GC Time", 0),
                            shuffle_write_bytes=(m.get("Shuffle Write Metrics") or {}).get(
                                "Shuffle Bytes Written", 0
                            ),
                            shuffle_read_records=(m.get("Shuffle Read Metrics") or {}).get(
                                "Total Records Read", 0
                            ),
                            input_records=(m.get("Input Metrics") or {}).get(
                                "Records Read", 0
                            ),
                            python_bytes=py,
                        )
                    )
    return jobs, tasks
