"""Spans around the benchmark's calls into the engine, a py4j call
counter, and the Spark event-log reader that splits each span into job
time and driver gaps.

Spans are recorded in every run (two clock reads each); the py4j
counter and the event log are only switched on in a traced run.  All
timestamps are epoch seconds, the clock the event log uses (ms).
"""

from __future__ import annotations

import bisect
import glob
import json
import os
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str  # "<layer>.<op>", e.g. "queries.plan", "store.append"
    pass_no: int
    t0: float
    t1: float = 0.0
    py4j: int = 0
    bytes_added: int = 0  # under the store roots, traced runs only


class Tracer:
    def __init__(self, traced: bool):
        self.traced = traced
        self.spans: list[Span] = []
        self.pass_no = -1  # -1: set-up, 0: cold pass, 1..: steady passes
        self.py4j_calls = 0
        if traced:
            self._count_py4j()

    def _count_py4j(self) -> None:
        """Count Python -> JVM round-trips, leaving out the reference
        releases py4j sends whenever Python's GC finalizes a proxy: their
        number depends on GC timing, not on the work."""
        from py4j import protocol
        from py4j.clientserver import ClientServerConnection

        send = ClientServerConnection.send_command
        release = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME
        tracer = self

        def counted(conn, command, *args, **kwargs):
            if not command.startswith(release):
                tracer.py4j_calls += 1
            return send(conn, command, *args, **kwargs)

        ClientServerConnection.send_command = counted

    @contextmanager
    def span(self, name: str):
        s = Span(name, self.pass_no, time.time())
        c0 = self.py4j_calls
        try:
            yield s
        finally:
            s.t1 = time.time()
            s.py4j = self.py4j_calls - c0
            self.spans.append(s)


# --------------------------------------------------------------- event log


@dataclass
class Job:
    t0: float
    t1: float
    stages: list = field(default_factory=list)


@dataclass
class Stage:
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    python: bool = False


_PY_SCOPE = re.compile(r"Python|Pandas|Arrow", re.I)


def read_event_logs(log_dir: str) -> list[Job]:
    """Every job of every application logged under ``log_dir``."""
    jobs: dict = {}
    stages: dict = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        app = os.path.basename(path)
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[(app, ev["Job ID"])] = Job(
                        ev["Submission Time"] / 1e3, ev["Submission Time"] / 1e3,
                        [(app, s) for s in ev["Stage IDs"]],
                    )
                elif kind == "SparkListenerJobEnd":
                    jobs[(app, ev["Job ID"])].t1 = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    st = stages.setdefault((app, info["Stage ID"]), Stage())
                    for rdd in info.get("RDD Info", []):
                        if _PY_SCOPE.search(rdd.get("Scope", "") or ""):
                            st.python = True
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    st = stages.setdefault((app, ev["Stage ID"]), Stage())
                    st.tasks += 1
                    st.run_s += m.get("Executor Run Time", 0) / 1e3
                    st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    st.gc_s += m.get("JVM GC Time", 0) / 1e3
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    st.shuffle_bytes += (
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                        + sw.get("Shuffle Bytes Written", 0)
                    )
                    st.spill_bytes += m.get("Disk Bytes Spilled", 0)
    out = []
    for job in jobs.values():
        job.stages = [stages[k] for k in job.stages if k in stages]
        out.append(job)
    return sorted(out, key=lambda j: j.t0)


def _union(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


_SLACK = 0.002  # event-log times are whole milliseconds


def attribute(spans: list[Span], jobs: list[Job]) -> dict:
    """Assign each job to the span it was submitted in, by time (the
    benchmark has one client thread, so its spans never overlap), and
    return {id(span): figures}.  Jobs outside every span are left out."""
    ordered = sorted(spans, key=lambda s: s.t0)
    starts = [s.t0 - _SLACK for s in ordered]
    mine: dict = {id(s): [] for s in ordered}
    for job in jobs:
        i = bisect.bisect_right(starts, job.t0) - 1
        if i >= 0 and job.t0 <= ordered[i].t1 + _SLACK:
            mine[id(ordered[i])].append(job)
    out = {}
    for s in ordered:
        stages = [st for job in mine[id(s)] for st in job.stages]
        busy = _union(
            (max(job.t0, s.t0), min(job.t1, s.t1)) for job in mine[id(s)]
        )
        out[id(s)] = {
            "jobs": len(mine[id(s)]),
            "stages": len(stages),
            "tasks": sum(st.tasks for st in stages),
            "job_s": busy,
            "gap_s": max(0.0, (s.t1 - s.t0) - busy),
            "run_s": sum(st.run_s for st in stages),
            "cpu_s": sum(st.cpu_s for st in stages),
            "gc_s": sum(st.gc_s for st in stages),
            "shuffle_mb": sum(st.shuffle_bytes for st in stages) / 2**20,
            "spill_mb": sum(st.spill_bytes for st in stages) / 2**20,
            "python_s": sum(st.run_s for st in stages if st.python),
        }
    return out
