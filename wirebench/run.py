"""wirebench: the wire-to-answer benchmark of dump1090_postgis_spark.

    python3 wirebench/run.py --workload live_feed --seed 1 --seconds 8 --trace 0

Run from the root of a checkout.  Workloads (see BENCHMARK.json):

- ``live_feed``   open-loop SBS-1 feed over TCP through the streaming
                  pipeline into the parquet event sink;
- ``capture_etl`` a recorded capture through ``plans.etl.build_tables``,
                  then a closed loop of ``plans.adsb`` calls over its
                  output; with ``--trace 1`` a two-batch ``datapipe``
                  curation pass follows.

Every result is checked against the generators' truth (and, for the
query API, DuckDB over the same parquet).  The last line of stdout is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
— the end-to-end metrics with ``--trace 0``, the per-layer metrics of
the traced run with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from harness import ROOT, WorkDir, log, start_spark, stop_spark  # noqa: E402
from metrics import E2E, PER_LAYER  # noqa: E402

WORKLOADS = ("live_feed", "capture_etl")


def process_start() -> float:
    """Wall time this process started (interpreter start-up included)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def canary(spark) -> float:
    """A fixed tiny job; its time drifts with the host, not the code."""
    t = time.time()
    spark.range(0, 200_000, numPartitions=4).selectExpr("sum(id % 7)").collect()
    return time.time() - t


def metadata(spark, seed: int) -> dict:
    try:
        rev = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        rev = "unknown"
    return {"git_rev": rev, "nproc": os.cpu_count(), "seed": seed,
            "spark_version": spark.version}


def session_layers(jobs, window: tuple[float, float]) -> dict:
    js = [j for j in jobs if window[0] <= j.t0 <= window[1]]
    return {
        "session.task_s": sum(j.task_s for j in js),
        "session.shuffle_write_bytes": sum(j.shuffle_write for j in js),
        "session.spill_bytes": sum(j.spill for j in js),
        "session.jvm_gc_ms": sum(j.gc_ms for j in js),
    }


def main(argv: list[str]) -> int:
    t_start = process_start()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "dump1090_postgis_spark", "__init__.py")):
        print("wirebench: no dump1090_postgis_spark package in this checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ["TZ"] = "UTC"
    time.tzset()
    import capture
    import live

    module = {"live_feed": live, "capture_etl": capture}[args.workload]
    traced = bool(args.trace)
    work = WorkDir(args.workload)
    try:
        spark = start_spark(work, event_log=traced)
        tracer = None
        if traced:
            from tracing import Tracer

            tracer = Tracer()
            tracer.install(spark)
        meta = metadata(spark, args.seed)
        log("session up")
        canary_start = canary(spark)
        try:
            res = module.run(spark, work, args.seed, args.seconds, tracer)
            canary_end = canary(spark)
        finally:
            stop_spark(spark)
            log("session stopped")
        setup_s = res["setup_end"] - t_start
        layers = dict.fromkeys(PER_LAYER, 0)
        layers.update(res["layers"])
        layers["session.canary_start_s"] = canary_start
        layers["session.canary_end_s"] = canary_end
        if traced:
            from tracing import read_event_log

            jobs = read_event_log(work.sub("eventlog"), tracer)
            layers.update(session_layers(
                jobs, (res["setup_end"], res.get("window_end", time.time()))))
            if hasattr(module, "traced_layers"):
                layers.update(module.traced_layers(tracer, jobs, work, res))
            layers["trace.hook_s"] = tracer.self_s
            layers["trace.traced_batch_s"] = res["e2e"]["batch_s"]
    finally:
        work.close()
    unknown = set(layers) - set(PER_LAYER)
    if unknown:
        raise RuntimeError(f"unlisted per-layer metrics: {sorted(unknown)}")
    e2e = dict(res["e2e"], setup_s=setup_s)
    meta.update(res["meta"], samples=res["samples"], canary_start_s=canary_start,
                canary_end_s=canary_end)
    failed, attempted = res["failed"], res["attempted"]
    print(json.dumps({"workload": args.workload, "trace": args.trace, "meta": meta,
                      "error_rate": failed / attempted,
                      "e2e": {k: [e2e[k], u] for k, u in E2E.items()}}))
    if traced:
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
