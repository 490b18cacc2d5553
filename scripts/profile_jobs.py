#!/usr/bin/env python
"""Job profiler: run named registry queries under a Spark event log,
then read the log once and show where the jobs and plans went.

Each run scopes a query's plan build as ``<q>/build`` and its noop-sink
action as ``<q>/action`` (``session.job_scope``); the package's own
scopes nest under them, e.g. ``etl_full_pipeline/build /
plans.etl.build_tables / write:positions``.  The report covers the
LAST run (earlier runs warm the JVM up):

- per name (a job's full description): jobs, stages run, wall (first
  submission to last completion), gap (wall not covered by any of its
  jobs: driver work between them), task seconds, shuffle read and
  write bytes, disk spill bytes and JVM GC ms.  Every job of the run
  sits in exactly one row, so the rows sum to the total line.
- per SQL execution, from its final plan (the last adaptive update
  with ``isFinalPlan=true``, else the plan it started with):
  exchanges, ReusedExchange, scans per source, sort-merge and
  broadcast-hash joins, Python-eval nodes, and operators outside
  whole-stage codegen.

Usage:
    python scripts/profile_jobs.py etl_full_pipeline
    python scripts/profile_jobs.py q1 q2 --runs 1 --plans plans_out
    SPARK_GRAFT_SF_DIR=<testdata>/sf0.01 python scripts/profile_jobs.py q1

``--plans DIR`` writes each execution's final plan text to DIR.  The
scale dir defaults to ``bench.py``'s.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import re
import shutil
import sys
import tempfile
import time
from collections import Counter
from dataclasses import dataclass, field, fields

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_ADAPTIVE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_DESCRIPTION = "spark.job.description"
# plan nodes that wrap, move or read data rather than compute on it
_NOT_OPERATORS = re.compile(
    r"^(AdaptiveSparkPlan|WholeStageCodegen|InputAdapter|\w*QueryStage"
    r"|\w*Exchange|AQEShuffleRead|ColumnarToRow|RowToColumnar|\w*Subquery"
    r"|Scan |\w*Scan$|Execute |WriteFiles|AppendData|OverwriteByExpression)"
)
_PYTHON_EVAL = re.compile(r"Python|InPandas|InArrow")


@dataclass
class Scope:
    """The jobs of one name, with their stages' task metrics."""

    jobs: list = field(default_factory=list)  # [t0, t1] per job, seconds
    stages: int = 0
    task_s: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    gc_ms: int = 0

    @property
    def wall_s(self) -> float:
        return max(t1 for _, t1 in self.jobs) - min(t0 for t0, _ in self.jobs)

    @property
    def gap_s(self) -> float:
        """Wall time during which none of the scope's jobs ran."""
        busy, end = 0.0, float("-inf")
        for t0, t1 in sorted(self.jobs):
            if t1 > end:
                busy += t1 - max(t0, end)
                end = t1
        return self.wall_s - busy


@dataclass
class Execution:
    """One SQL execution and the final physical plan it ran."""

    exec_id: int
    name: str
    plan: dict
    text: str


def read_event_log(lines, prefix: str = "") -> tuple[dict[str, Scope], list[Execution]]:
    """Jobs by name and SQL executions of an uncompressed, non-rolling
    event log, in one pass.  Only jobs, stages and executions whose
    description starts with ``prefix`` count; the prefix is cut from
    their names."""

    def name_of(desc):
        return desc[len(prefix):] if desc and desc.startswith(prefix) else None

    scopes: dict[str, Scope] = {}
    jobs: dict[int, list] = {}
    stage_scope: dict[int, Scope] = {}
    execs: dict[int, Execution] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            name = name_of((ev.get("Properties") or {}).get(_DESCRIPTION))
            if name is not None:
                jobs[ev["Job ID"]] = span = [ev["Submission Time"] / 1000.0] * 2
                scopes.setdefault(name, Scope()).jobs.append(span)
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]][1] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            name = name_of((ev.get("Properties") or {}).get(_DESCRIPTION))
            if name is not None:
                s = stage_scope[ev["Stage Info"]["Stage ID"]] = scopes.setdefault(name, Scope())
                s.stages += 1
        elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_scope:
            s = stage_scope[ev["Stage ID"]]
            m = ev.get("Task Metrics") or {}
            read = m.get("Shuffle Read Metrics") or {}
            s.task_s += m.get("Executor Run Time", 0) / 1000.0
            s.gc_ms += m.get("JVM GC Time", 0)
            s.shuffle_read += read.get("Remote Bytes Read", 0) + read.get("Local Bytes Read", 0)
            s.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            s.spill += m.get("Disk Bytes Spilled", 0)
        elif kind == _SQL_START:
            name = name_of(ev.get("description"))
            if name is not None:
                execs[ev["executionId"]] = Execution(
                    ev["executionId"], name, ev["sparkPlanInfo"], ev["physicalPlanDescription"]
                )
        elif kind == _SQL_ADAPTIVE and ev["executionId"] in execs:
            if "isFinalPlan=true" in ev["physicalPlanDescription"]:
                e = execs[ev["executionId"]]
                e.plan, e.text = ev["sparkPlanInfo"], ev["physicalPlanDescription"]
    return scopes, sorted(execs.values(), key=lambda e: e.exec_id)


def audit_plan(plan: dict) -> dict:
    """Shape counts of one physical plan tree (``sparkPlanInfo``)."""
    out = Counter()
    sources = Counter()

    def walk(node: dict, fused: bool) -> None:
        name = node["nodeName"]
        if name in ("ReusedExchange", "ReusedSubquery"):
            out["reuse"] += name == "ReusedExchange"
            return  # its subtree ran where it was first built
        if name.endswith("Exchange"):
            out["xchg"] += 1
        elif name == "SortMergeJoin":
            out["smj"] += 1
        elif name == "BroadcastHashJoin":
            out["bhj"] += 1
        if _PYTHON_EVAL.search(name):
            out["py"] += 1
        if name.startswith("WholeStageCodegen"):
            fused = True
        elif name == "InputAdapter":
            fused = False
        elif not fused and not _NOT_OPERATORS.match(name):
            out["nocg"] += 1
        if name == "InMemoryTableScan" or not node.get("children"):
            # a source (a cached plan ran where it was built): file
            # scans by their directory, the rest by node name
            m = re.search(r"\[([^\],]+)", node.get("metadata", {}).get("Location", ""))
            sources[os.path.basename(m.group(1).rstrip("/")) if m else name] += 1
            return
        for child in node["children"]:
            walk(child, fused)

    walk(plan, False)
    out["sources"] = ",".join(
        f"{k}x{v}" if v > 1 else k for k, v in sorted(sources.items())
    ) or "-"
    return out


def report(scopes: dict[str, Scope], execs: list[Execution]) -> None:
    total = Scope()
    for s in scopes.values():
        for f in fields(Scope):
            setattr(total, f.name, getattr(total, f.name) + getattr(s, f.name))
    rows = sorted(scopes.items(), key=lambda kv: min(t0 for t0, _ in kv[1].jobs))
    print(f"{'jobs':>4} {'stg':>4} {'wall_s':>7} {'gap_s':>7} {'task_s':>7} "
          f"{'shuf_r':>10} {'shuf_w':>10} {'spill':>8} {'gc_ms':>6}  name")
    for name, s in rows + [("total", total)]:
        print(f"{len(s.jobs):>4} {s.stages:>4} {s.wall_s:>7.3f} {s.gap_s:>7.3f} "
              f"{s.task_s:>7.3f} {s.shuffle_read:>10} {s.shuffle_write:>10} "
              f"{s.spill:>8} {s.gc_ms:>6}  {name}")
    print(f"\n{'exec':>4} {'xchg':>4} {'reuse':>5} {'smj':>3} {'bhj':>3} "
          f"{'py':>3} {'nocg':>4}  {'scans':<24} name")
    for e in execs:
        a = audit_plan(e.plan)
        print(f"{e.exec_id:>4} {a['xchg']:>4} {a['reuse']:>5} {a['smj']:>3} "
              f"{a['bhj']:>3} {a['py']:>3} {a['nocg']:>4}  {a['sources']:<24} {e.name}")


def main(argv: list[str]) -> int:
    from bench import SF_DIR
    from dump1090_postgis_spark.plans import full_registry
    from dump1090_postgis_spark.session import get_spark, job_scope

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("queries", nargs="+", help="registry query names")
    ap.add_argument("--runs", type=int, default=2, help="runs; the last is reported")
    ap.add_argument("--plans", metavar="DIR", help="write each final plan's text here")
    args = ap.parse_args(argv)
    registry = full_registry()
    if args.runs < 1:
        ap.error("--runs must be at least 1")
    for q in set(args.queries) - set(registry):
        ap.error(f"unknown query {q!r}")
    evdir = tempfile.mkdtemp(prefix="spark_events_")
    spark = get_spark(
        app_name="profile_jobs",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    for i in range(args.runs):
        for q in args.queries:
            fn, _sql = registry[q]
            with job_scope(f"run{i}"):
                t0 = time.time()
                with job_scope(f"{q}/build"):
                    df = fn(spark, SF_DIR)
                t1 = time.time()
                with job_scope(f"{q}/action"):
                    df.write.format("noop").mode("overwrite").save()
                t2 = time.time()
            print(f"run {i} {q}: build {t1 - t0:.3f}s action {t2 - t1:.3f}s",
                  file=sys.stderr)
            df = None
            spark.catalog.clearCache()
            gc.collect()
    spark.stop()  # flushes and closes the event log
    (log,) = os.listdir(evdir)
    with open(os.path.join(evdir, log)) as f:
        scopes, execs = read_event_log(f, prefix=f"run{args.runs - 1} / ")
    shutil.rmtree(evdir)
    report(scopes, execs)
    if args.plans:
        os.makedirs(args.plans, exist_ok=True)
        for e in execs:
            slug = re.sub(r"[^\w.-]+", "_", e.name)[:120]
            with open(os.path.join(args.plans, f"{e.exec_id:04d}_{slug}.txt"), "w") as f:
                f.write(e.text)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
