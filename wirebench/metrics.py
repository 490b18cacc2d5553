"""The metric vocabulary: names, units and which workload fills them.

End-to-end metrics are printed by every run with tracing off; each
workload maps them onto what its user waits for:

| metric        | live_feed                          | capture_etl                         |
|---------------|------------------------------------|-------------------------------------|
| setup_s       | process start → feed start         | process start → capture on disk     |
| batch_s       | median micro-batch (commit) time   | raw capture → four readable tables  |
| latency_p50_s | due time → event written, median   | plans.adsb call, build→collect      |

On live_feed both timings are taken over the micro-batches that took
the steady window's lines.  On capture_etl latency_p50_s is, per
``plans.adsb`` function, the median of its three or more calls (the
first of which also compiles the plan), and then the geometric mean
over the seven functions, so it does not jump with whichever function
sits in the middle of one mixed sample.

The 95th-percentile latency and the peak RSS of the JVM with its
Python workers move too much from run to run on a shared 4-core host
to carry a bound; they are reported with the per-layer metrics.

Per-layer metrics come from the traced run; a workload that bypasses a
layer reports 0 for it.  The ``datapipe.*`` metrics come from the
curation pass that the traced capture_etl run makes after its queries
(``curation.py``); it has no end-to-end metric.
"""

from __future__ import annotations

E2E = {
    "setup_s": "s",
    "batch_s": "s",
    "latency_p50_s": "s",
}

ADSB_FNS = (
    "landings_on",
    "takeoffs_fromto",
    "events_histogram_all",
    "peak_hour_all",
    "flight_path_geojson",
    "landings_on_details",
    "takeoff_paths_period",
)

# Per-layer metrics where a larger value is the better one; for every
# other metric smaller is better.
HIGHER_IS_BETTER = {
    "operators.attribution.matched_ratio",
    "loadgen.keepup_ratio",
    "operators.parse.accept_ratio",
    "datapipe.dedup.verified_ratio",
}


def _per_layer() -> dict[str, str]:
    m = {
        # live_feed
        "sources.sbs1.get_batch_ms": "ms",
        "streaming.pipeline.trigger_ms_p50": "ms",
        "streaming.pipeline.trigger_ms_max": "ms",
        "streaming.pipeline.query_planning_ms": "ms",
        "streaming.pipeline.wal_commit_ms": "ms",
        "streaming.tws.handler_ms": "ms",
        "streaming.tws.state_rows": "count",
        "streaming.tws.state_memory_bytes": "bytes",
        "streaming.tws.state_commit_ms": "ms",
        "operators.attribution.batch_ms": "ms",
        "operators.attribution.matched_ratio": "ratio",
        "streaming.sinks.write_ms": "ms",
        "streaming.sinks.files_written": "count",
        "loadgen.lag_ms_p99": "ms",
        "loadgen.keepup_ratio": "ratio",
        "live.event_latency_p99_s": "s",
        "result.latency_p95_s": "s",
        "session.peak_rss_mb": "MB",
        # capture_etl: the ETL
        "plans.etl.build_s": "s",
        "plans.etl.eager_jobs": "count",
        "plans.etl.eager_s": "s",
        "plans.etl.action_jobs": "count",
        "plans.etl.gap_s": "s",
        "plans.etl.py4j_calls": "count",
        "operators.ids.jobs": "count",
        "operators.ids.task_s": "s",
        "operators.storage.write_s": "s",
        "operators.storage.files_written": "count",
        "operators.storage.bytes_written": "bytes",
        "operators.parse.accept_ratio": "ratio",
        # capture_etl: the query API over the ETL output
        "operators.storage.files_read_ratio": "ratio",
    }
    for fn in ADSB_FNS:
        for part, unit in (("build_s", "s"), ("exec_s", "s"), ("jobs", "count"),
                           ("py4j_calls", "count")):
            m[f"plans.adsb.{fn}.{part}"] = unit
    # capture_etl, traced run only: the datapipe curation pass
    from curation import FNS, PARTS

    for fn in FNS:
        for part in PARTS:
            unit = "s" if part.endswith("_s") else ("bytes" if part.endswith("bytes")
                                                    else "count")
            m[f"datapipe.{fn}.{part}"] = unit
    m.update({
        "datapipe.curation_s": "s",
        "datapipe.dedup.verified_ratio": "ratio",
        "datapipe.lsh_artifact.bytes_written": "bytes",
        "datapipe.python_plan_nodes": "count",
    })
    m.update({
        # every workload
        "session.task_s": "s",
        "session.shuffle_write_bytes": "bytes",
        "session.spill_bytes": "bytes",
        "session.jvm_gc_ms": "ms",
        "session.canary_start_s": "s",
        "session.canary_end_s": "s",
        "trace.hook_s": "s",
        "trace.traced_batch_s": "s",
    })
    return m


PER_LAYER = _per_layer()
