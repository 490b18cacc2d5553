#!/usr/bin/env python
"""Streaming ingest benchmarks over the FULL stateful pipeline
(parse → regex gate → dispatch → applyInPandasWithState
sessions/edges/debounce):

1. **file replay** — the sf events table rendered as SBS-1 wire lines,
   replayed with availableNow: peak drain throughput (msg/s).
2. **sustained socket** — a local TCP server paces the same lines at a
   fixed target rate for a fixed window (the reference's dump1090
   :30003 shape, SURVEY §6): sustained msg/s actually processed,
   keep-up ratio, and state-store rows / memory from progress events.
3. **checkpoint recovery** — stop the file-replay query mid-stream,
   restart on the same checkpoint: seconds until the restarted query
   completes its first batch (state restore + source re-offset), and
   end-to-end completion to prove no data loss.

Context: the reference's live feed is a single receiver at ~10-100
msg/s and its ingest path is one Python thread; these numbers bound
how far one Spark node is from that envelope.

Prints ONE JSON line with all three metric groups.
"""

from __future__ import annotations

import json
import os
import shutil
import socketserver
import sys
import tempfile
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SOCKET_RATE = int(os.environ.get("SPARK_GRAFT_SOCKET_RATE", "15000"))  # msg/s
SOCKET_SECS = int(os.environ.get("SPARK_GRAFT_SOCKET_SECS", "30"))


def _wire_lines(ev):
    """The etl_full_pipeline wire-line synthesis."""
    from pyspark.sql import functions as F

    return ev.select(
        F.concat_ws(
            ",",
            F.lit("MSG"), F.lit("3"), F.lit("1"), F.lit("1"),
            F.concat(F.lit("A"), F.col("user_id").cast("string")),
            F.lit("1"),
            F.date_format(F.col("ts").cast("timestamp"), "yyyy/MM/dd"),
            F.date_format(F.col("ts").cast("timestamp"), "HH:mm:ss.SSS"),
            F.date_format(F.col("ts").cast("timestamp"), "yyyy/MM/dd"),
            F.date_format(F.col("ts").cast("timestamp"), "HH:mm:ss.SSS"),
            F.lit(""),
            F.round(F.col("value") * 10).cast("int").cast("string"),
            F.lit(""), F.lit(""),
            F.round(F.lit(47.0) + F.col("value") / 1000.0, 5).cast("string"),
            F.round(F.lit(-1.6) + F.col("value") / 1000.0, 5).cast("string"),
            F.lit(""), F.lit(""), F.lit("0"), F.lit(""), F.lit("0"),
            F.when(F.col("event_id") % 7 == 0, "-1").otherwise("0"),
        ).alias("value")
    )


def _state_metrics(progress) -> dict:
    ops = (progress or {}).get("stateOperators") or []
    return {
        "state_rows": sum(o.get("numRowsTotal", 0) for o in ops),
        "state_memory_bytes": sum(o.get("memoryUsedBytes", 0) for o in ops),
    }


def bench_file_replay(spark, drop: str) -> dict:
    """availableNow drain of the rendered line files: peak msg/s."""
    from dump1090_postgis_spark.streaming.pipeline import (
        event_stream,
        parsed_stream,
    )

    n_msgs = spark.read.text(drop).count()
    ckpt = tempfile.mkdtemp(prefix="ingest_ckpt")
    try:
        raw = spark.readStream.text(drop)
        events = event_stream(parsed_stream(raw))
        t0 = time.time()
        q = (
            events.writeStream.outputMode("append")
            .format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        # ProcessingTimeTimeout keeps the availableNow query scheduling
        # empty micro-batches until every session ages past MAX_AGE
        # (300 s of processing time) — that drain phase is eviction
        # semantics, not ingest throughput.  Stop at the first
        # zero-input progress event: all data batches are done by then.
        deadline = time.time() + 600
        elapsed = None
        state = {}
        while time.time() < deadline and q.isActive:
            p = q.lastProgress
            if p and p.get("numInputRows", 0) == 0 and p.get("batchId", 0) > 0:
                elapsed = time.time() - t0
                state = _state_metrics(p)
                q.stop()
                break
            time.sleep(0.2)
        if elapsed is None:
            q.awaitTermination(60)
            elapsed = time.time() - t0
        return {
            "file_replay_rate": round(n_msgs / elapsed, 1),
            "messages": n_msgs,
            "elapsed_sec": round(elapsed, 2),
            **state,
        }
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def bench_file_replay_tws(spark, drop: str) -> dict:
    """bench_file_replay through the transformWithState twin
    (streaming/tws.py) over the RocksDB state store — the modern
    stateful API's throughput next to the legacy handler's.  Returns
    {} when no protobuf runtime is discoverable (pbcompat), so the
    row is simply absent rather than fake."""
    from dump1090_postgis_spark.streaming.pbcompat import (
        prepare_env,
        tws_available,
    )

    if not (prepare_env() and tws_available()):
        return {}
    from dump1090_postgis_spark.streaming.pipeline import parsed_stream
    from dump1090_postgis_spark.streaming.tws import (
        ROCKSDB_PROVIDER,
        event_stream_tws,
    )

    n_msgs = spark.read.text(drop).count()
    ckpt = tempfile.mkdtemp(prefix="ingest_tws_ckpt")
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER
    )
    try:
        raw = spark.readStream.text(drop)
        events = event_stream_tws(parsed_stream(raw))
        t0 = time.time()
        q = (
            events.writeStream.outputMode("append")
            .format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        # same drain rule as bench_file_replay: processing-time timers
        # keep scheduling eviction batches; stop at first zero-input
        # progress — ingest is done by then.
        deadline = time.time() + 600
        elapsed = None
        state = {}
        while time.time() < deadline and q.isActive:
            p = q.lastProgress
            if p and p.get("numInputRows", 0) == 0 and p.get("batchId", 0) > 0:
                elapsed = time.time() - t0
                state = _state_metrics(p)
                q.stop()
                break
            time.sleep(0.2)
        if elapsed is None:
            q.awaitTermination(60)
            elapsed = time.time() - t0
        return {
            "tws_file_replay_rate": round(n_msgs / elapsed, 1),
            "tws_elapsed_sec": round(elapsed, 2),
            "tws_state_rows": state.get("state_rows", 0),
        }
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
        shutil.rmtree(ckpt, ignore_errors=True)


def _grid_runways(spark, n: int = 300):
    """A 300-runway dim past attribution's 256-branch compile budget,
    so ``attributing_sink``'s wire-up gate resolves to the grid strategy
    and EVERY micro-batch runs the production grid-cell broadcast
    join (round-12 verdict #5 — the round-12 socket rows exercised
    only the 2-runway compiled path).

    REALISTIC DISPERSION: one runway per 0.25° grid cell (runway i
    sits inside lon cell −7+i; the wire lines' events land in cells
    −7/−6 and lat cell 188), so each event's joined runway array holds
    ≤1 polygon and many events genuinely fall inside runway G000 —
    the ourairports shape, where 42k runways spread over the globe
    and a cell holds a handful.  A first round-13 attempt packed all
    300 strips into ONE cell: per-event work became 300 interpreted
    point-in-polygon tests and keep-up collapsed to 0.161 — a
    hot-cell stress shape, not the production dim (kept in
    BASELINE.md as the measured hot-cell bound)."""
    from dump1090_postgis_spark.operators.attribution import GRID_DEG
    from dump1090_postgis_spark.schemas import RUNWAY_SCHEMA
    from dump1090_postgis_spark.sources.dims import literal_dim

    g = GRID_DEG
    base = -7 * g  # cell −7 = [−1.75, −1.5): where the events live
    hotcell = os.environ.get("SPARK_GRAFT_GRID_DIM", "") == "hotcell"
    if hotcell:
        # stress shape: all n strips inside the events' one cell —
        # every event filters an n-polygon array
        w = 0.12 / n
        strip = lambda i: (-1.6 + i * w, -1.6 + (i + 1) * w)  # noqa: E731
    else:
        strip = lambda i: (base + i * g + 0.02, base + i * g + 0.23)  # noqa: E731
    rows = [
        (
            i + 1,
            "LFRS",
            f"G{i:03d}",
            30 if i % 2 == 0 else 210,
            2900.0,
            [
                {"lon": strip(i)[0], "lat": 47.0},
                {"lon": strip(i)[1], "lat": 47.0},
                {"lon": strip(i)[1], "lat": 47.2},
                {"lon": strip(i)[0], "lat": 47.2},
            ],
        )
        for i in range(n)
    ]
    return literal_dim(spark, rows, RUNWAY_SCHEMA)


def bench_socket_sustained(
    spark, lines: list[str], attributed: bool = False, grid: bool = False
) -> dict:
    """A paced TCP feed at SOCKET_RATE msg/s for SOCKET_SECS: the
    sustained shape the reference ingests, ~150-1500× its receiver
    rate.  Keep-up is judged from the query's own progress events
    (processed vs input rows); state-store rows/memory come from the
    stateOperators block of the LAST progress.

    ``attributed=True`` runs STATE-5 runway attribution (NTE seed dim,
    compiled point-in-polygon coalesce) inside a foreachBatch sink —
    the full reference live loop including event enrichment.
    ``grid=True`` (implies attributed) swaps in the 300-runway dim so
    the sink's once-at-wire-up gate resolves to the GRID-CELL
    BROADCAST JOIN and the production attribution plan runs per
    micro-batch (round-12 verdict #5)."""
    from dump1090_postgis_spark.sources.sbs1 import socket_stream
    from dump1090_postgis_spark.streaming.pipeline import (
        attributing_sink,
        event_stream,
        parsed_stream,
    )

    stop_feed = threading.Event()
    sent = {"n": 0}

    class Feeder(socketserver.BaseRequestHandler):
        def handle(self):
            # pace in 100 ms slices; loop the line list as needed
            slice_n = max(1, SOCKET_RATE // 10)
            deadline = time.time() + SOCKET_SECS
            i = 0
            try:
                while time.time() < deadline and not stop_feed.is_set():
                    t_slice = time.time()
                    chunk = []
                    for _ in range(slice_n):
                        chunk.append(lines[i % len(lines)])
                        i += 1
                    self.request.sendall(("\n".join(chunk) + "\n").encode())
                    sent["n"] += len(chunk)
                    dt = time.time() - t_slice
                    if dt < 0.1:
                        time.sleep(0.1 - dt)
                # feed window over: keep the connection open while the
                # query drains, until the bench signals shutdown
                while not stop_feed.is_set():
                    time.sleep(0.2)
            except (BrokenPipeError, ConnectionResetError):
                pass

    srv = socketserver.ThreadingTCPServer(("127.0.0.1", 0), Feeder)
    srv.daemon_threads = True
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    ckpt = tempfile.mkdtemp(prefix="sock_ckpt")
    try:
        raw = socket_stream(spark, "127.0.0.1", srv.server_address[1])
        events = event_stream(parsed_stream(raw))
        t0 = time.time()
        writer = events.writeStream.outputMode("append")
        if attributed or grid:
            from dump1090_postgis_spark.sources.dims import (
                nte_airport,
                nte_runways,
            )

            sink = attributing_sink(
                _grid_runways(spark) if grid else nte_runways(spark),
                None if grid else nte_airport(spark),
                lambda df, eid: df.write.format("noop").mode("overwrite").save(),
            )
            writer = writer.foreachBatch(sink)
        else:
            writer = writer.format("noop")
        q = (
            writer.option("checkpointLocation", ckpt)
            .trigger(processingTime="1 second")
            .start()
        )
        # run for the feed window + a short drain, then read progress
        time.sleep(SOCKET_SECS + 5)
        progresses = list(q.recentProgress)  # StreamingQueryProgress: dict subclass
        last = q.lastProgress or {}
        stop_feed.set()
        q.stop()
        elapsed = time.time() - t0
        total_in = sum(p.get("numInputRows", 0) for p in progresses)
        batch_ms = [
            p["durationMs"]["triggerExecution"]
            for p in progresses
            if p.get("numInputRows", 0) > 0 and "durationMs" in p
        ]
        tag = (
            "socket_attributed_grid"
            if grid
            else "socket_attributed" if attributed else "socket"
        )
        return {
            f"{tag}_target_rate": SOCKET_RATE,
            f"{tag}_sent": sent["n"],
            f"{tag}_processed": total_in,
            f"{tag}_sustained_rate": round(total_in / elapsed, 1),
            # >= ~1.0 means the pipeline kept pace with the feed
            f"{tag}_keepup_ratio": round(total_in / max(sent["n"], 1), 3),
            f"{tag}_max_batch_sec": round(max(batch_ms) / 1000, 2) if batch_ms else None,
            **{f"{tag}_{k}": v for k, v in _state_metrics(last).items()},
        }
    finally:
        srv.shutdown()
        shutil.rmtree(ckpt, ignore_errors=True)


SOAK_SECS = int(os.environ.get("SPARK_GRAFT_SOAK_SECS", "600"))
SOAK_RATE = int(os.environ.get("SPARK_GRAFT_SOAK_RATE", "6000"))  # msg/s
SOAK_GEN_SECS = int(os.environ.get("SPARK_GRAFT_SOAK_GEN_SECS", "120"))


def bench_soak(spark, lines: list[str]) -> dict:
    """Sustained ≥10-minute socket soak with STATE-GROWTH accounting —
    the bounded-state claim (STATE-1's 300 s inactivity eviction)
    proven over time rather than asserted.

    Design:
    - the feeder paces SOAK_RATE msg/s for SOAK_SECS and ROTATES the
      session-key population every SOAK_GEN_SECS (hexident prefixed
      with a generation tag): keys of a retired generation stop
      receiving messages, so the 300 s processing-time timeout must
      evict them — without rotation the looped replay keeps every
      session alive forever and eviction is never exercised;
    - the pipeline is the TWS/RocksDB twin when the protobuf runtime
      is available (state off-heap — the 100 TB posture), else the
      legacy HDFS-backed handler;
    - EVERY trigger's stateOperators row is recorded via lastProgress
      polling (recentProgress caps at ~100 entries — too short for a
      10-minute 1 s-trigger run): rows total, rows removed (evictions)
      and the RocksDB size custom metrics.

    Verdict criterion: after warm-up (first eviction wave at
    SOAK_GEN_SECS + 300 s), state rows and RocksDB bytes must be FLAT
    — summarized as steady-state mean/max vs the warm-up peak.
    """
    from dump1090_postgis_spark.sources.sbs1 import socket_stream
    from dump1090_postgis_spark.streaming.pbcompat import (
        prepare_env,
        tws_available,
    )
    from dump1090_postgis_spark.streaming.pipeline import (
        event_stream,
        parsed_stream,
    )

    use_tws = prepare_env() and tws_available()
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    if use_tws:
        from dump1090_postgis_spark.streaming.tws import (
            ROCKSDB_PROVIDER,
            event_stream_tws,
        )

        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER
        )
        stage = event_stream_tws
    else:
        stage = event_stream

    stop_feed = threading.Event()
    sent = {"n": 0, "gen": 0}

    class Feeder(socketserver.BaseRequestHandler):
        def handle(self):
            slice_n = max(1, SOAK_RATE // 10)
            deadline = time.time() + SOAK_SECS
            t_start = time.time()
            gen = -1
            gen_lines: list[str] = []
            i = 0
            try:
                while time.time() < deadline and not stop_feed.is_set():
                    t_slice = time.time()
                    g = int((time.time() - t_start) // SOAK_GEN_SECS)
                    if g != gen:
                        # retire the old key population: EVERY hexident
                        # gets the generation prefix, so gen g-1 keys
                        # go quiet and MUST age out 300 s later.  The
                        # prefix must stay [0-9A-F] — the SBS-1 parser
                        # validates hexident as uppercase hex and NULLs
                        # the key otherwise (operators/parse.py:77).
                        # Rewrite field index 4 (MSG,type,session,
                        # aircraft,hexident,...) explicitly — a bare
                        # `.replace(",A", ...)` only mutated lines whose
                        # FIRST ",A" was the hexident, so keys not
                        # starting with 'A' never retired and the
                        # eviction accounting undercounted (round-8
                        # advisor finding).
                        gen = g
                        sent["gen"] = gen

                        def _restamp(line: str, g: int = gen) -> str:
                            f = line.split(",")
                            f[4] = f"{g:X}{f[4]}"
                            return ",".join(f)

                        gen_lines = [_restamp(l) for l in lines]
                    chunk = []
                    for _ in range(slice_n):
                        chunk.append(gen_lines[i % len(gen_lines)])
                        i += 1
                    self.request.sendall(("\n".join(chunk) + "\n").encode())
                    sent["n"] += len(chunk)
                    dt = time.time() - t_slice
                    if dt < 0.1:
                        time.sleep(0.1 - dt)
                while not stop_feed.is_set():
                    time.sleep(0.2)
            except (BrokenPipeError, ConnectionResetError):
                pass

    srv = socketserver.ThreadingTCPServer(("127.0.0.1", 0), Feeder)
    srv.daemon_threads = True
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    ckpt = tempfile.mkdtemp(prefix="soak_ckpt")
    series: list[dict] = []
    try:
        raw = socket_stream(spark, "127.0.0.1", srv.server_address[1])
        events = stage(parsed_stream(raw))
        t0 = time.time()
        q = (
            events.writeStream.outputMode("append")
            .format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="1 second")
            .start()
        )
        seen = set()
        drain = 20  # catch the post-feed eviction tail
        while time.time() < t0 + SOAK_SECS + drain:
            p = q.lastProgress
            if p and p.get("batchId") is not None and p["batchId"] not in seen:
                seen.add(p["batchId"])
                ops = p.get("stateOperators") or []
                rocks = {}
                for o in ops:
                    for k, v in (o.get("customMetrics") or {}).items():
                        if "rocksdb" in k.lower() and (
                            "SstFileSize" in k
                            or "SizeBytes" in k
                            or "MemoryUsage" in k
                        ):
                            rocks[k] = rocks.get(k, 0) + v
                series.append(
                    {
                        "t": round(time.time() - t0, 1),
                        "batch": p["batchId"],
                        "in": p.get("numInputRows", 0),
                        "rows": sum(o.get("numRowsTotal", 0) for o in ops),
                        "removed": sum(
                            o.get("numRowsRemoved", 0) for o in ops
                        ),
                        **rocks,
                    }
                )
            time.sleep(0.4)
        stop_feed.set()
        q.stop()
        elapsed = time.time() - t0
        total_in = sum(s["in"] for s in series)
        evicted = sum(s["removed"] for s in series)
        # steady state begins after the first full eviction wave
        warm = SOAK_GEN_SECS + 300 + 30
        steady = [s for s in series if s["t"] >= warm]
        warmup = [s for s in series if s["t"] < warm]
        last_keys = list((steady or series)[-1]) if series else []
        size_key = next(
            (k for k in last_keys if "SstFileSize" in k),
            next((k for k in last_keys if "rocksdb" in k.lower()), None),
        )

        def stat(rows, key):
            vals = [s.get(key, 0) for s in rows] or [0]
            return {"mean": round(sum(vals) / len(vals), 1), "max": max(vals)}

        out = {
            "soak_engine": "tws_rocksdb" if use_tws else "legacy_hdfs",
            "soak_secs": SOAK_SECS,
            "soak_rate_target": SOAK_RATE,
            "soak_gen_secs": SOAK_GEN_SECS,
            "soak_sent": sent["n"],
            "soak_processed": total_in,
            "soak_keepup_ratio": round(total_in / max(sent["n"], 1), 3),
            "soak_generations": sent["gen"] + 1,
            "soak_evicted_rows": evicted,
            "soak_triggers_recorded": len(series),
            "soak_state_rows_warmup": stat(warmup, "rows"),
            "soak_state_rows_steady": stat(steady, "rows"),
        }
        if size_key:
            out["soak_rocksdb_metric"] = size_key
            out["soak_rocksdb_warmup"] = stat(warmup, size_key)
            out["soak_rocksdb_steady"] = stat(steady, size_key)
        # full per-trigger series for the curious (not in the JSON line)
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "..", ".soak_series.json"),
            "w",
        ) as fh:
            json.dump(series, fh)
        return out
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
        srv.shutdown()
        shutil.rmtree(ckpt, ignore_errors=True)


def bench_checkpoint_recovery(spark, drop: str) -> dict:
    """Kill the file-replay query mid-stream, restart on the SAME
    checkpoint: time until the restarted query finishes its first
    batch (state-store restore + source re-offset), then completion —
    the operational number a pipeline operator plans around."""
    from dump1090_postgis_spark.streaming.pipeline import (
        event_stream,
        parsed_stream,
    )

    ckpt = tempfile.mkdtemp(prefix="recover_ckpt")
    try:
        def start(trigger_kwargs, max_files=None):
            reader = spark.readStream
            if max_files is not None:
                reader = reader.option("maxFilesPerTrigger", max_files)
            raw = reader.text(drop)
            events = event_stream(parsed_stream(raw))
            return (
                events.writeStream.outputMode("append")
                .format("noop")
                .option("checkpointLocation", ckpt)
                .trigger(**trigger_kwargs)
                .start()
            )

        # phase 1: one file per batch (8 files total), paced at 1 s so
        # the kill lands mid-stream deterministically (zero-interval
        # triggers drain every remaining file during stop() latency)
        q1 = start({"processingTime": "1 second"}, max_files=1)
        deadline = time.time() + 300
        while time.time() < deadline:
            p = q1.lastProgress
            if p and p.get("batchId", 0) >= 3:
                break
            time.sleep(0.2)
        interrupted_batches = (q1.lastProgress or {}).get("batchId", 0)
        q1.stop()

        # phase 2: restart from the checkpoint; time to first batch
        t0 = time.time()
        q2 = start({"availableNow": True})
        deadline = time.time() + 600
        done = None
        while time.time() < deadline and q2.isActive:
            p = q2.lastProgress
            if p and p.get("numInputRows", 0) == 0 and p.get("batchId") is not None:
                done = time.time() - t0
                break
            time.sleep(0.2)
        # first-batch latency from the query's own progress timestamps
        # (poll granularity would otherwise fold it into the drain time)
        first_batch = None
        recovered_rows = 0
        for p in q2.recentProgress:
            if p.get("numInputRows", 0) > 0:
                recovered_rows += p["numInputRows"]
                if first_batch is None:
                    try:
                        from datetime import datetime, timezone

                        ts = (
                            datetime.strptime(
                                p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ"
                            )
                            .replace(tzinfo=timezone.utc)
                            .timestamp()
                        )
                        first_batch = ts + p.get("batchDuration", 0) / 1000 - t0
                    except (ValueError, KeyError):
                        first_batch = None
        q2.stop()
        return {
            "recovery_interrupted_after_batches": interrupted_batches,
            "recovery_rows_after_restart": recovered_rows,
            "recovery_first_batch_sec": round(first_batch, 2) if first_batch else None,
            "recovery_drain_sec": round(done, 2) if done else None,
        }
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def main() -> int:
    from dump1090_postgis_spark.schemas import load_table
    from dump1090_postgis_spark.session import get_spark

    which = os.environ.get("SPARK_GRAFT_STREAM_BENCH", "all")
    spark = get_spark(app_name="bench_streaming")
    ev = load_table(spark, SF_DIR, "events")
    drop = tempfile.mkdtemp(prefix="ingest_drop")
    out: dict = {"metric": "streaming_ingest", "unit": "msgs_per_sec"}
    out["sf"] = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in SF_DIR else -1.0
    try:
        # repartition, not coalesce: the source parquet is often a
        # single partition and coalesce cannot raise the file count —
        # the recovery bench needs one-file-per-batch granularity
        _wire_lines(ev).repartition(8).write.mode("overwrite").text(drop)
        if which in ("all", "file"):
            out.update(bench_file_replay(spark, drop))
        if which in ("all", "tws"):
            out.update(bench_file_replay_tws(spark, drop))
        if which in (
            "all", "socket", "socket_attributed", "socket_attributed_grid"
        ):
            lines = [r.value for r in spark.read.text(drop).limit(200_000).collect()]
            if which in ("all", "socket"):
                out.update(bench_socket_sustained(spark, lines))
            if which in ("all", "socket_attributed"):
                out.update(bench_socket_sustained(spark, lines, attributed=True))
            if which in ("all", "socket_attributed_grid"):
                out.update(bench_socket_sustained(spark, lines, grid=True))
        if which == "soak":
            lines = [r.value for r in spark.read.text(drop).limit(200_000).collect()]
            out.update(bench_soak(spark, lines))
        if which in ("all", "recovery"):
            out.update(bench_checkpoint_recovery(spark, drop))
        out["value"] = (
            out.get("file_replay_rate")
            or out.get("socket_sustained_rate")
            or out.get("soak_processed")
        )
        print(json.dumps(out))
    finally:
        shutil.rmtree(drop, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
