"""The traced run's collector.

- Spans: wall-clock intervals the benchmark records around each public
  call it makes into the package (name, start, end, py4j calls).
- py4j: every gateway round trip is counted, and calls that block long
  enough to run a job remember the first frame outside pyspark/py4j
  (the module of the package that issued them).
- Event log: after the session stops, jobs, stages and tasks are read
  back and each job is charged to the span it ran in and to the module
  of the gateway call that submitted it.

Nothing here runs in an untraced run.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import pyspark
import py4j

from harness import ROOT

_SKIP_DIRS = (
    os.path.dirname(os.path.abspath(pyspark.__file__)),
    os.path.dirname(os.path.abspath(py4j.__file__)),
    os.path.dirname(os.path.abspath(__file__)),
)
_PKG_DIR = os.path.join(ROOT, "dump1090_postgis_spark")
_LONG_CALL_S = 0.001  # shorter gateway calls cannot have run a job


def call_site_module(filename: str) -> str:
    """Dotted module of a frame's file: ``operators.ids`` for a file of
    the package, ``wirebench`` for the benchmark's own, else ``other``."""
    path = os.path.abspath(filename)
    if path.startswith(_PKG_DIR + os.sep):
        rel = os.path.relpath(path, _PKG_DIR)
        return rel[:-3].replace(os.sep, ".") if rel.endswith(".py") else rel
    if path.startswith(os.path.dirname(os.path.abspath(__file__)) + os.sep):
        return "wirebench"
    return "other"


def first_outside(frame) -> str:
    while frame is not None and frame.f_code.co_filename.startswith(_SKIP_DIRS):
        frame = frame.f_back
    return call_site_module(frame.f_code.co_filename) if frame else "other"


@dataclass
class Span:
    name: str
    t0: float
    t1: float = 0.0
    py4j_calls: int = 0


@dataclass
class Job:
    job_id: int
    t0: float
    t1: float
    stages: list[int]
    module: str = "other"
    task_s: float = 0.0
    gc_ms: float = 0.0
    shuffle_write: int = 0
    spill: int = 0
    bytes_written: int = 0


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    calls: list[tuple[float, float, str]] = field(default_factory=list)
    n_calls: int = 0
    self_s: float = 0.0  # bookkeeping time spent inside the gateway hook
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def install(self, spark) -> None:
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counted(*args, **kwargs):
            frame = sys._getframe(1)
            t0 = time.time()
            try:
                return send(*args, **kwargs)
            finally:
                t1 = time.time()
                with self._lock:
                    self.n_calls += 1
                    if t1 - t0 >= _LONG_CALL_S:
                        self.calls.append((t0, t1, first_outside(frame)))
                    self.self_s += time.time() - t1

        client.send_command = counted

    @contextmanager
    def span(self, name: str):
        s = Span(name, time.time())
        calls0 = self.n_calls
        try:
            yield s
        finally:
            s.t1 = time.time()
            s.py4j_calls = self.n_calls - calls0
            self.spans.append(s)

    def find(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def module_of(self, t: float) -> str:
        """Module of the innermost long gateway call open at ``t``."""
        best = None
        for t0, t1, mod in self.calls:
            if t0 <= t <= t1 and (best is None or t1 - t0 < best[1] - best[0]):
                best = (t0, t1, mod)
        return best[2] if best else "other"


def read_event_log(log_dir: str, tracer: Tracer) -> list[Job]:
    """Jobs of the (single) application log in ``log_dir``, with their
    tasks' metrics summed and their submitting module resolved."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    with open(os.path.join(log_dir, names[0])) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                j = Job(ev["Job ID"], ev["Submission Time"] / 1000.0, 0.0,
                        list(ev.get("Stage IDs", [])))
                jobs[j.job_id] = j
                for sid in j.stages:
                    stage_job[sid] = j.job_id
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].t1 = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                j = jobs.get(stage_job.get(ev.get("Stage ID"), -1))
                m = ev.get("Task Metrics") or {}
                if j is None or not m:
                    continue
                j.task_s += m.get("Executor Run Time", 0) / 1000.0
                j.gc_ms += m.get("JVM GC Time", 0)
                j.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                j.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                j.bytes_written += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    out = sorted(jobs.values(), key=lambda j: j.t0)
    for j in out:
        j.t1 = j.t1 or j.t0
        j.module = tracer.module_of(j.t0)
    return out


def scan_file_counts(log_dir: str) -> list[tuple[float, str, int]]:
    """(start time, location, files read) per parquet scan, from the SQL
    plan info and driver-side metric updates of the event log."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    scans: dict[int, tuple[float, str]] = {}  # accumulator id -> (t, location)
    values: dict[int, int] = {}

    def walk(node, t):
        if node.get("nodeName", "").startswith("Scan parquet"):
            loc = node.get("metadata", {}).get("Location", "")
            for m in node.get("metrics", []):
                if m.get("name") == "number of files read":
                    scans[m["accumulatorId"]] = (t, loc)
        for child in node.get("children", []):
            walk(child, t)

    with open(os.path.join(log_dir, names[0])) as fh:
        for line in fh:
            if "SQLExecution" not in line and "DriverAccumUpdates" not in line:
                continue
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"):
                t = ev.get("time", 0) / 1000.0
                walk(ev.get("sparkPlanInfo", {}), t)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for acc_id, v in ev.get("accumUpdates", []):
                    values[acc_id] = values.get(acc_id, 0) + v
    return [(t, loc, values.get(a, 0)) for a, (t, loc) in scans.items() if a in values]


def in_span(jobs: list[Job], span: Span) -> list[Job]:
    return [j for j in jobs if span.t0 <= j.t0 <= span.t1]


def busy_s(jobs: list[Job], t0: float, t1: float) -> float:
    """Length of the union of the jobs' intervals clipped to [t0, t1]."""
    ivs = sorted((max(j.t0, t0), min(j.t1, t1)) for j in jobs)
    total, end = 0.0, t0
    for a, b in ivs:
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def span_layers(prefix: str, jobs: list[Job], build: list[Span],
                action: list[Span]) -> dict[str, float]:
    """The build/eager/action/gap split of one public call, summed over
    its repetitions: ``build`` spans cover the call that returns the
    DataFrame, ``action`` spans the benchmark's collect or write."""
    out = {"build_s": 0.0, "eager_jobs": 0, "eager_s": 0.0, "action_jobs": 0,
           "gap_s": 0.0, "py4j_calls": 0, "shuffle_write_bytes": 0}
    for spans, key in ((build, "eager"), (action, "action")):
        for s in spans:
            js = in_span(jobs, s)
            busy = busy_s(js, s.t0, s.t1)
            out[f"{key}_jobs"] += len(js)
            out["gap_s"] += (s.t1 - s.t0) - busy
            out["py4j_calls"] += s.py4j_calls
            out["shuffle_write_bytes"] += sum(j.shuffle_write for j in js)
            if key == "eager":
                out["build_s"] += s.t1 - s.t0
                out["eager_s"] += busy
    return {f"{prefix}.{k}": v for k, v in out.items()}
