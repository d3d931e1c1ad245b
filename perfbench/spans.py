"""Spans kept by the benchmark driver, and the Spark event-log reader that
turns a traced run into per-layer numbers.

A span is one call the benchmark makes into a layer. Spans nest (an op
span holds its compose/plan/execute children), are kept in memory, and are
matched against the event log only after the SparkContext has stopped,
which drains the listener bus and closes the log. There is one client
thread, so a Spark job belongs to the innermost span open at its
submission time. Jobs also carry the span id as a local property when
their submitting thread is the client's; jobs started from the package's
own thread pools lose it and count as untagged.
"""

from __future__ import annotations

import contextlib
import glob
import json
import math
import os
import time
from dataclasses import dataclass, field

SPAN_PROPERTY = "perfbench.span"
PERCENTILES = (50.0, 90.0, 99.0, 99.9)


def tail_percentile(values: list[float]) -> tuple[float | None, float | None]:
    """The highest of PERCENTILES with at least ten samples beyond it, and
    its value (nearest-rank). ``(None, None)`` below twenty samples."""
    n = len(values)
    chosen = None
    for p in PERCENTILES:
        if n * (1.0 - p / 100.0) >= 10.0 - 1e-9:
            chosen = p
    if chosen is None:
        return None, None
    ordered = sorted(values)
    rank = max(1, math.ceil(chosen / 100.0 * n - 1e-9))
    return chosen, ordered[rank - 1]


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float  # epoch seconds, comparable with event-log timestamps
    end: float = 0.0
    seconds: float = 0.0  # perf_counter duration


def self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the part of its interval its children cover."""
    return max(0.0, (span.end - span.start) - covered(span.start, span.end, children))


def covered(lo: float, hi: float, intervals) -> float:
    """Length of [lo, hi] covered by the union of ``intervals`` (objects
    with start/end, or (start, end) pairs)."""
    pts = []
    for iv in intervals:
        s, e = (iv.start, iv.end) if hasattr(iv, "start") else iv
        s, e = max(s, lo), min(e, hi)
        if e > s:
            pts.append((s, e))
    pts.sort()
    total, cur_s, cur_e = 0.0, None, None
    for s, e in pts:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """Records spans; with ``sc`` set, also tags the client's Spark jobs."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sp = Span(len(self.spans), name, self._stack[-1] if self._stack else None, time.time())
        self.spans.append(sp)
        self._stack.append(sp.id)
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROPERTY, str(sp.id))
        t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.seconds = time.perf_counter() - t0
            sp.end = time.time()
            self._stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty(
                    SPAN_PROPERTY, str(self._stack[-1]) if self._stack else None
                )

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]


# --- event log ---------------------------------------------------------


def event_log_files(log_dir: str) -> list[str]:
    """Files of the one application logged under ``log_dir``: the rolled
    ``eventlog_v2_*/events_<n>_*`` parts in order, or a single file."""
    rolled = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    if rolled:
        return sorted(rolled, key=lambda p: int(os.path.basename(p).split("_")[1]))
    return sorted(
        p
        for p in glob.glob(os.path.join(log_dir, "*"))
        if os.path.isfile(p) and not p.endswith(".inprogress")
    )


def read_events(log_dir: str) -> list[dict]:
    """Parsed events of an uncompressed log (``spark.eventLog.compress``
    is off in traced runs)."""
    events = []
    for path in event_log_files(log_dir):
        with open(path, encoding="utf-8") as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


@dataclass
class Job:
    id: int
    submitted: float  # epoch seconds
    stages: list[int]
    span_prop: str | None
    span: int | None = None  # attributed span id
    tasks: list[dict] = field(default_factory=list)


def _accum(task_info: dict, needle: str) -> float:
    total = 0.0
    for acc in task_info.get("Accumulables", []) or []:
        name = acc.get("Name") or ""
        if needle in name:
            try:
                total += float(acc.get("Update", 0) or 0)
            except (TypeError, ValueError):
                pass
    return total


def parse_jobs(events: list[dict]) -> list[Job]:
    """Jobs with their tasks' metrics, from a parsed event log."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = Job(
                ev["Job ID"],
                ev["Submission Time"] / 1000.0,
                list(ev.get("Stage IDs", [])),
                props.get(SPAN_PROPERTY),
            )
            jobs[job.id] = job
            for sid in job.stages:
                stage_job[sid] = job.id
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev.get("Stage ID"))
            if jid is None:
                continue
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            inp = m.get("Input Metrics") or {}
            out = m.get("Output Metrics") or {}
            jobs[jid].tasks.append(
                {
                    "launch": info.get("Launch Time", 0) / 1000.0,
                    "finish": info.get("Finish Time", 0) / 1000.0,
                    "run_ms": m.get("Executor Run Time", 0),
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "shuffle_read": sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "spill": m.get("Disk Bytes Spilled", 0),
                    "scan_bytes": inp.get("Bytes Read", 0),
                    "scan_rows": inp.get("Records Read", 0),
                    "output_bytes": out.get("Bytes Written", 0),
                    "py_sent": _accum(info, "data sent to Python workers"),
                    "py_ms": _accum(info, "time to run Python workers"),
                }
            )
    return sorted(jobs.values(), key=lambda j: j.id)


def attribute(jobs: list[Job], spans: list[Span]) -> None:
    """Give each job the innermost span whose interval holds its
    submission time (ties go to the later-opened span)."""
    for job in jobs:
        best = None
        for sp in spans:
            if sp.start <= job.submitted <= sp.end:
                if best is None or sp.start >= best.start:
                    best = sp
        job.span = best.id if best is not None else None


def span_totals(jobs: list[Job], span_ids: set[int]) -> dict:
    """Summed task metrics of the jobs attributed to ``span_ids``."""
    keys = (
        "run_ms cpu_ns gc_ms shuffle_read shuffle_write spill scan_bytes "
        "scan_rows output_bytes py_sent py_ms"
    ).split()
    tot = dict.fromkeys(keys, 0.0)
    tot["jobs"] = 0
    tot["tasks"] = 0
    tot["untagged_jobs"] = 0
    intervals = []
    for job in jobs:
        if job.span not in span_ids:
            continue
        tot["jobs"] += 1
        tot["tasks"] += len(job.tasks)
        if job.span_prop is None:
            tot["untagged_jobs"] += 1
        for t in job.tasks:
            for k in keys:
                tot[k] += t[k]
            intervals.append((t["launch"], t["finish"]))
    tot["task_intervals"] = intervals
    return tot
