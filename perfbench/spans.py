"""Spans, py4j round-trip counts and Spark event-log attribution.

A traced run records one span around every public call the workloads make
into the engine (name, start, end, parent, iteration). Spans stay in memory
until the run ends. Each span tags the Spark jobs started inside it with
``SparkContext.addJobTag``; the tag reaches ``spark.job.tags`` in the
event log, which ``parse_event_log`` joins back to the spans after the
session has stopped and the log is complete.

An untraced run uses ``NullTracer``: its ``span`` is a shared no-op context
manager, so no tag, counter or clock read is added to the measured calls.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from dataclasses import dataclass, field

# Event-log settings for traced runs. Spark 4.1 writes zstd-compressed,
# rolling logs by default; one plain file is what the parser reads.
EVENT_LOG_CONFS = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


class _Py4jCounter:
    """Counts py4j round-trips the way ``scripts/profile_floor.py`` does,
    by wrapping ``GatewayClient.send_command`` (the pinned-thread
    ``JavaClient`` inherits it)."""

    def __init__(self) -> None:
        self.n = 0
        self._orig = None

    def install(self) -> None:
        from py4j.java_gateway import GatewayClient

        orig = self._orig = GatewayClient.send_command

        def counted(client, *a, **kw):
            self.n += 1
            return orig(client, *a, **kw)

        GatewayClient.send_command = counted

    def uninstall(self) -> None:
        from py4j.java_gateway import GatewayClient

        GatewayClient.send_command = self._orig


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    iteration: int
    t0_ns: int = 0  # wall clock (epoch ns): comparable with event-log times
    t1_ns: int = 0
    py4j: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return (self.t1_ns - self.t0_ns) / 1e9


class NullTracer:
    def span(self, name: str, **attrs):
        return contextlib.nullcontext()


NULL_TRACER = NullTracer()


class Tracer:
    def __init__(self, spark) -> None:
        self.spans: list[Span] = []
        self.iteration = -1
        self._stack: list[Span] = []
        self._sc = spark.sparkContext
        self._py4j = _Py4jCounter()

    @contextlib.contextmanager
    def active(self):
        """Count py4j round-trips only while a traced iteration runs."""
        self._py4j.install()
        try:
            yield
        finally:
            self._py4j.uninstall()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1].sid if self._stack else None
        sp = Span(len(self.spans), name, parent, self.iteration, attrs=attrs)
        self.spans.append(sp)
        tag = f"pb-{sp.sid}"
        self._sc.addJobTag(tag)
        self._stack.append(sp)
        c0 = self._py4j.n
        sp.t0_ns = time.time_ns()
        try:
            yield sp
        finally:
            sp.t1_ns = time.time_ns()
            sp.py4j = self._py4j.n - c0
            self._stack.pop()
            self._sc.removeJobTag(tag)


# -- event log ---------------------------------------------------------------

@dataclass
class JobStats:
    job_id: int
    span: int | None
    submit_ms: int
    end_ms: int = 0
    tasks: int = 0
    task_failures: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    sched_delay_s: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    input_bytes: int = 0
    output_bytes: int = 0


def find_event_log(log_dir: str, app_id: str) -> str:
    path = os.path.join(log_dir, app_id)
    if not os.path.isfile(path):
        raise FileNotFoundError(f"no complete event log for {app_id} in {log_dir}")
    return path


def parse_event_log(path: str, span_depth: dict[int, int]) -> dict[int, JobStats]:
    """Per-job task totals; each job goes to the innermost tagged span."""
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                tags = (ev.get("Properties") or {}).get("spark.job.tags", "")
                sids = [int(t[3:]) for t in tags.split(",") if t.startswith("pb-")]
                owner = max(sids, key=lambda s: span_depth.get(s, -1)) if sids else None
                js = JobStats(ev["Job ID"], owner, ev["Submission Time"])
                jobs[js.job_id] = js
                for st in ev.get("Stage IDs", []):
                    stage_job.setdefault(st, js.job_id)
            elif kind == "SparkListenerJobEnd":
                js = jobs.get(ev["Job ID"])
                if js is not None:
                    js.end_ms = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                js = jobs.get(stage_job.get(ev["Stage ID"], -1))
                if js is not None:
                    _add_task(js, ev)
    return jobs


def _add_task(js: JobStats, ev: dict) -> None:
    info = ev.get("Task Info", {})
    m = ev.get("Task Metrics") or {}
    js.tasks += 1
    if info.get("Failed") or ev.get("Task End Reason", {}).get("Reason") != "Success":
        js.task_failures += 1
    run_ms = m.get("Executor Run Time", 0)
    js.run_s += run_ms / 1e3
    js.cpu_s += m.get("Executor CPU Time", 0) / 1e9
    js.gc_s += m.get("JVM GC Time", 0) / 1e3
    duration = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    # The web UI's definition of scheduler delay.
    delay = (
        duration - run_ms - m.get("Executor Deserialize Time", 0)
        - m.get("Result Serialization Time", 0) - info.get("Getting Result Time", 0)
    )
    js.sched_delay_s += max(0, delay) / 1e3
    sr = m.get("Shuffle Read Metrics", {})
    js.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    js.shuffle_write += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
    js.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    js.input_bytes += m.get("Input Metrics", {}).get("Bytes Read", 0)
    js.output_bytes += m.get("Output Metrics", {}).get("Bytes Written", 0)


def span_depths(spans: list[Span]) -> dict[int, int]:
    depth: dict[int, int] = {}
    for sp in spans:  # parents precede children
        depth[sp.sid] = 0 if sp.parent is None else depth[sp.parent] + 1
    return depth


def uncovered_seconds(sp: Span, jobs: list[JobStats]) -> float:
    """Span time during which none of ``jobs`` was running."""
    lo, hi = sp.t0_ns / 1e6, sp.t1_ns / 1e6
    covered, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(lo, j.submit_ms), min(hi, j.end_ms or hi)) for j in jobs):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return max(0.0, (hi - lo) - covered) / 1e3
