"""The job profiler's event-log reader (scripts/profile_jobs.py), on a
small log recorded from a real local run — no Spark needed.

The fixture run (``python tests/test_profile_jobs.py`` re-records it):
``run0 / gaps`` runs two counts (two jobs each under AQE) 0.6 s apart;
``run0 / reuse`` joins an aggregate with itself by sort-merge, so its
final plan reads the aggregate's shuffle once and reuses it; a job
outside ``run0`` must not count.  The log keeps only the events and
fields the reader uses.
"""

import importlib.util
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURE = os.path.join(HERE, "fixtures", "eventlog_profile_jobs.jsonl")


_spec = importlib.util.spec_from_file_location(
    "profile_jobs", os.path.join(HERE, os.pardir, "scripts", "profile_jobs.py")
)
profile_jobs = sys.modules["profile_jobs"] = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(profile_jobs)


def _read():
    with open(FIXTURE) as f:
        return profile_jobs.read_event_log(f, prefix="run0 / ")


def test_jobs_and_gaps_per_name():
    scopes, _ = _read()
    assert set(scopes) == {"gaps", "reuse"}
    gaps = scopes["gaps"]
    assert len(gaps.jobs) == 4 and gaps.stages == 4
    assert 0.6 <= gaps.gap_s <= gaps.wall_s
    assert gaps.task_s > 0
    reuse = scopes["reuse"]
    assert len(reuse.jobs) == 2  # the aggregate's shuffle stage, then the join
    assert reuse.shuffle_write > 0 and reuse.shuffle_read > 0


def test_final_plan_exchange_and_reuse_counts():
    _, execs = _read()
    (e,) = [e for e in execs if e.name == "reuse"]
    assert "isFinalPlan=true" in e.text
    a = profile_jobs.audit_plan(e.plan)
    assert (a["xchg"], a["reuse"], a["smj"], a["bhj"], a["py"]) == (1, 1, 1, 0, 0)
    assert a["sources"] == "Range"  # the reused side reads no input


def _record(out_path: str) -> None:
    """Run the fixture's jobs under an event log and keep what the
    reader uses."""
    import tempfile
    import time

    sys.path.insert(0, os.path.join(HERE, os.pardir))
    from pyspark.sql import functions as F

    from dump1090_postgis_spark.session import get_spark, job_scope

    evdir = tempfile.mkdtemp(prefix="spark_events_")
    spark = get_spark(
        app_name="profile_jobs_fixture", master="local[2]", shuffle_partitions=2,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        },
    )
    spark.range(4).count()  # outside the run: not counted
    with job_scope("run0"):
        with job_scope("gaps"):
            spark.range(10).count()
            time.sleep(0.6)
            spark.range(10).count()
        with job_scope("reuse"):
            agg = spark.range(100).groupBy((F.col("id") % 5).alias("k")).count()
            agg.join(agg.withColumnRenamed("count", "c2"), "k").write.format(
                "noop").mode("overwrite").save()
    spark.stop()
    (log,) = os.listdir(evdir)
    keep_props = ("spark.job.description", "spark.sql.execution.id")
    keep_metrics = ("Executor Run Time", "JVM GC Time", "Disk Bytes Spilled",
                    "Shuffle Read Metrics", "Shuffle Write Metrics")

    def plan(node):
        return {"nodeName": node["nodeName"], "simpleString": node["simpleString"],
                "children": [plan(c) for c in node.get("children", [])]}

    out = []
    with open(os.path.join(evdir, log)) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            props = {k: v for k, v in (ev.get("Properties") or {}).items() if k in keep_props}
            if kind == "SparkListenerJobStart":
                ev = {"Event": kind, "Job ID": ev["Job ID"], "Stage IDs": ev["Stage IDs"],
                      "Submission Time": ev["Submission Time"], "Properties": props}
            elif kind == "SparkListenerJobEnd":
                ev = {"Event": kind, "Job ID": ev["Job ID"], "Completion Time": ev["Completion Time"]}
            elif kind == "SparkListenerStageSubmitted":
                ev = {"Event": kind, "Stage Info": {"Stage ID": ev["Stage Info"]["Stage ID"]},
                      "Properties": props}
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                ev = {"Event": kind, "Stage ID": ev["Stage ID"],
                      "Task Metrics": {k: v for k, v in m.items() if k in keep_metrics}}
            elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                ev = {k: v for k, v in ev.items() if k in (
                    "Event", "executionId", "description", "physicalPlanDescription")}
                ev["sparkPlanInfo"] = plan(json.loads(line)["sparkPlanInfo"])
            else:
                continue
            out.append(json.dumps(ev, separators=(",", ":")))
    with open(out_path, "w") as f:
        f.write("\n".join(out) + "\n")


if __name__ == "__main__":
    _record(FIXTURE)
