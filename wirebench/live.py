"""``live_feed``: open-loop SBS-1 over TCP through the streaming pipeline.

socket_stream → start_pipeline(engine="auto") with the LFRS runway and
airport dims → attributing_sink → parquet_event_sink.  The feeder runs
in its own process and sends a warm-up, then the steady window, at one
fixed rate (``trafficgen.LIVE_RATE``).
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import subprocess
import sys
import time
from statistics import median

import pyarrow.dataset as pads

import trafficgen as tg
from harness import RssSampler, jvm_process, log, percentile

FEEDER = os.path.join(os.path.dirname(os.path.abspath(__file__)), "feeder.py")


def _ts(s: str) -> float:
    return _dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=_dt.timezone.utc).timestamp()


class Feeder:
    def __init__(self, seed: int, steady_s: float):
        self.proc = subprocess.Popen(
            [sys.executable, FEEDER, "--seed", str(seed), "--steady", str(steady_s)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        first = self.proc.stdout.readline().split()
        if len(first) != 2 or first[0] != "port":
            self.close()
            raise RuntimeError("feeder did not start")
        self.port = int(first[1])

    def go(self) -> None:
        self.proc.stdin.write("go\n")
        self.proc.stdin.flush()

    def report(self) -> dict:
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError("feeder exited before reporting")
        return json.loads(line)

    def close(self) -> None:
        if self.proc.stdin and not self.proc.stdin.closed:
            self.proc.stdin.close()
        try:
            self.proc.wait(20)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait(10)
        self.proc.stdout.close()


def run(spark, work, seed: int, seconds: float, tracer) -> dict:
    from dump1090_postgis_spark.sources.dims import nte_airport, nte_runways
    from dump1090_postgis_spark.sources.sbs1 import socket_stream
    from dump1090_postgis_spark.streaming import pipeline
    from dump1090_postgis_spark.streaming.sinks import parquet_event_sink

    # the feeder generates the traffic (and reports its truth) while the
    # session and the query start
    feeder = Feeder(seed, seconds)
    q = None
    orig_attr = pipeline.attributing_sink
    try:
        runways, airport = nte_runways(spark), nte_airport(spark)
        engine = pipeline.resolve_stream_engine("auto")

        sink_dir = work.sub("sink")
        sink_log: dict[int, tuple[float, float]] = {}
        attr_log: dict[int, float] = {}
        inner = parquet_event_sink(sink_dir)

        def timed_sink(df, epoch):
            t = time.time()
            inner(df, epoch)
            sink_log[epoch] = (t, time.time())

        if tracer is not None:
            def traced_attributing_sink(rw, bbox, fn, **kw):
                wrapped = orig_attr(rw, bbox, fn, **kw)

                def sink(df, epoch):
                    t = time.time()
                    wrapped(df, epoch)
                    attr_log[epoch] = time.time() - t
                return sink
            pipeline.attributing_sink = traced_attributing_sink

        with RssSampler(jvm_process(spark).pid) as rss:
            q = pipeline.start_pipeline(
                socket_stream(spark, "127.0.0.1", feeder.port), timed_sink,
                work.sub("ckpt"), runways=runways, airport_bbox=airport, engine="auto")
            # the first (empty) trigger pays the engine's cold start
            while not q.recentProgress:
                if q.exception() is not None:
                    raise RuntimeError(f"stream failed: {q.exception()}")
                time.sleep(0.1)
            log(f"live_feed: query warm, engine {engine}")
            feeder.go()
            fed = feeder.report()
            log(f"live_feed: feeder done, {fed['sent']} lines, "
                f"lag p99 {fed['lag_ms_p99']:.1f} ms")
            # drain: every line sent has passed the sink
            deadline = time.time() + 60
            while time.time() < deadline:
                if sum(p.get("numInputRows", 0) for p in q.recentProgress) >= fed["sent"]:
                    break
                if q.exception() is not None:
                    raise RuntimeError(f"stream failed: {q.exception()}")
                time.sleep(0.2)
            progress = [dict(p) for p in q.recentProgress]
            log("live_feed: drained; batches (id rows trigger_ms): " + " ".join(
                f"{p['batchId']}:{p.get('numInputRows', 0)}:"
                f"{p.get('durationMs', {}).get('triggerExecution', 0)}" for p in progress))
    finally:
        pipeline.attributing_sink = orig_attr
        if q is not None:
            q.stop()
        feeder.close()

    t0 = fed["t0_ms"] / 1000.0
    marks = fed["marks"]
    steady = (t0 + marks["steady_start_ms"] / 1000.0, t0 + marks["steady_end_ms"] / 1000.0)
    win = _steady_batches(progress, steady)
    # Latency is sampled over the whole micro-batches that took the
    # window's lines, not cut at the window's edges, so that it depends
    # less on where the batch boundaries fall.
    timed = {p["batchId"] for p in win}
    # correctness and event latency, against the generator's truth
    want = {(h, k, fed["t0_ms"] + t): rw for h, k, t, rw in fed["events"]}
    table = pads.dataset(os.path.join(sink_dir, "events"), format="parquet").to_table(
        columns=["hexident", "kind", "event_time", "runway", "epoch"]).to_pylist()
    seen: dict[tuple, int] = {}
    wrong = 0
    lat_steady = []
    for r in table:
        ms = int(round(r["event_time"].replace(tzinfo=_dt.timezone.utc).timestamp() * 1000))
        key = (r["hexident"], r["kind"], ms)
        seen[key] = seen.get(key, 0) + 1
        if want.get(key) != r["runway"]:
            wrong += 1
        if r["epoch"] in timed:
            lat_steady.append(sink_log[r["epoch"]][1] - ms / 1000.0)
    missing = sum(1 for k in want if k not in seen)
    dups = sum(n - 1 for n in seen.values() if n > 1)
    failed = missing + dups + wrong

    busy = [p["durationMs"]["triggerExecution"] / 1000.0 for p in win]
    # keep-up: rows processed per busy second vs the steady send rate
    keepup = sum(p["numInputRows"] for p in win) / sum(busy) / (fed["steady"] / seconds)

    e2e = {
        # micro-batch time: the interval at which results commit
        "batch_s": median(busy),
        "latency_p50_s": percentile(lat_steady, 50),
    }
    layers = {
        "loadgen.lag_ms_p99": fed["lag_ms_p99"],
        "loadgen.keepup_ratio": keepup,
        "result.latency_p95_s": percentile(lat_steady, 95),
        "live.event_latency_p99_s": percentile(lat_steady, 99),
        "session.peak_rss_mb": rss.peak,
    }
    if tracer is not None:
        layers.update(_stream_layers(win, sink_log, attr_log, table, sink_dir))
    return {
        "e2e": e2e, "layers": layers, "attempted": len(want), "failed": failed,
        "setup_end": t0, "meta": {"stream_engine": engine},
        "samples": {"events": len(lat_steady), "batches": len(win)},
    }


def _steady_batches(progress, steady) -> list[dict]:
    """Progress of the micro-batches that took the steady window's
    lines: those starting inside it and the first one after it."""
    out = []
    for p in progress:
        start = _ts(p["timestamp"])
        if "durationMs" in p and p.get("numInputRows", 0) and start > steady[0]:
            out.append(p)
            if start > steady[1]:
                break
    return out


def _stream_layers(win, sink_log, attr_log, table, sink_dir) -> dict:
    d = [p["durationMs"] for p in win]
    ops = [p["stateOperators"][0] for p in win if p.get("stateOperators")]
    epochs = [p["batchId"] for p in win if p["batchId"] in sink_log]
    writes = [(sink_log[e][1] - sink_log[e][0]) * 1000 for e in epochs]
    attr = [attr_log[e] * 1000 - w for e, w in zip(epochs, writes) if e in attr_log]
    n_files = sum(1 for _, _, fs in os.walk(sink_dir) for f in fs if f.endswith(".parquet"))
    matched = sum(1 for r in table if r["runway"] != tg.UNMATCHED)

    def med(xs):
        return median(xs) if xs else 0.0

    return {
        "sources.sbs1.get_batch_ms": med([x.get("getBatch", 0) + x.get("latestOffset", 0)
                                          for x in d]),
        "streaming.pipeline.trigger_ms_p50": med([x["triggerExecution"] for x in d]),
        "streaming.pipeline.trigger_ms_max": max((x["triggerExecution"] for x in d), default=0),
        "streaming.pipeline.query_planning_ms": med([x.get("queryPlanning", 0) for x in d]),
        "streaming.pipeline.wal_commit_ms": med([x.get("walCommit", 0) for x in d]),
        "streaming.tws.handler_ms": med([o.get("allUpdatesTimeMs", 0)
                                         + o.get("allRemovalsTimeMs", 0) for o in ops]),
        "streaming.tws.state_rows": ops[-1].get("numRowsTotal", 0) if ops else 0,
        "streaming.tws.state_memory_bytes": ops[-1].get("memoryUsedBytes", 0) if ops else 0,
        "streaming.tws.state_commit_ms": med([o.get("commitTimeMs", 0) for o in ops]),
        "operators.attribution.batch_ms": med(attr),
        "operators.attribution.matched_ratio": matched / len(table) if table else 0.0,
        "streaming.sinks.write_ms": med(writes),
        "streaming.sinks.files_written": n_files,
    }
