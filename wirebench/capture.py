"""``capture_etl``: a recorded capture through the batch ETL, then the
query API over its output — wire to answer, in batch.  With tracing
on, a datapipe curation pass follows (``curation.py``).

The capture (``trafficgen.capture_traffic``) is written as one text
file; ``plans.etl.build_tables(output_path=...)`` turns it into the four
tables against a dispersed runway dim past the compile budget (so
attribution runs its grid path).  A single closed-loop client then
calls ``plans.adsb`` functions in a seeded round-robin order for the
run's seconds, collecting each result.  The ETL tables are checked
against the generator's truth, every query result against DuckDB over
the same parquet.

The query latency is, per function, the median of its calls, and then
the geometric mean over the seven functions: every function weighs
alike, and no single mixed sample decides which call sits in the
middle.
"""

from __future__ import annotations

import contextlib
import datetime as _dt
import gc
import math
import os
import random
import re
import time
from statistics import median

import pyarrow.dataset as pads

import trafficgen as tg
from harness import RssSampler, jvm_process, log, percentile
from metrics import ADSB_FNS

N_FLIGHTS = 300
N_STRIPS = 150  # 300 runway ends: past attribution's 256-branch budget
# The query loop runs whole rounds (every function once, in a seeded
# order) for the run's seconds, and at least MIN_ROUNDS of them.  The
# first round also compiles each plan shape; a function's median over
# three calls or more leaves that slowest call out.
MIN_ROUNDS = 3
DAY0 = _dt.date(2024, 5, 1)
TZ = "Europe/Paris"

AIRLINES = [  # AIRLINE_SCHEMA rows; "ZZZ" callsigns match none
    (1, "Air France", None, "AF", "AFR", "AIRFRANS", "France", "Y"),
    (2, "Lufthansa", None, "LH", "DLH", "LUFTHANSA", "Germany", "Y"),
    (3, "British Airways", None, "BA", "BAW", "SPEEDBIRD", "United Kingdom", "Y"),
    (4, "KLM", None, "KL", "KLM", "KLM", "Netherlands", "Y"),
    (5, "easyJet", None, "U2", "EZY", "EASY", "United Kingdom", "Y"),
]
COUNTRIES = [  # COUNTRY_SCHEMA rows
    (1, "FR", "France", "EU", None, None),
    (2, "DE", "Germany", "EU", None, None),
    (3, "GB", "United Kingdom", "EU", None, None),
    (4, "NL", "Netherlands", "EU", None, None),
]


def _prepare(spark, work, seed: int):
    from dump1090_postgis_spark.schemas import AIRLINE_SCHEMA, COUNTRY_SCHEMA, RUNWAY_SCHEMA
    from dump1090_postgis_spark.sources.dims import literal_dim

    strips = tg.dispersed_strips(seed, N_STRIPS)
    traffic = tg.capture_traffic(seed, N_FLIGHTS, strips)
    cap_dir = work.sub("capture")
    os.makedirs(cap_dir, exist_ok=True)
    with open(os.path.join(cap_dir, "capture.txt"), "w") as fh:
        for m in traffic.msgs:
            fh.write(tg.render(m, tg.CAPTURE_BASE_MS))
            fh.write("\n")
    dims = {
        "runways": literal_dim(spark, tg.runway_rows(strips), RUNWAY_SCHEMA),
        "airlines": literal_dim(spark, AIRLINES, AIRLINE_SCHEMA),
        "countries": literal_dim(spark, COUNTRIES, COUNTRY_SCHEMA),
    }
    return traffic, cap_dir, dims


def _calls(seed: int):
    """Endless seeded round-robin of (fn, params): every function once
    per round, in a fresh order each round.  Every call covers one day
    (or one day's hours), so rounds weigh alike whatever the seed."""
    rng = random.Random(f"queries-{seed}")
    days = [DAY0 + _dt.timedelta(days=i) for i in range(tg.CAPTURE_DAYS)]
    while True:
        order = list(ADSB_FNS)
        rng.shuffle(order)
        for fn in order:
            d = rng.choice(days)
            if fn in ("takeoffs_fromto", "takeoff_paths_period"):
                yield fn, {"from_": d, "to_": d + _dt.timedelta(days=1)}
            elif fn == "events_histogram_all":
                yield fn, {"starts": _dt.datetime.combine(d, _dt.time()),
                           "ends": _dt.datetime.combine(d, _dt.time(23))}
            elif fn == "flight_path_geojson":
                yield fn, {"ids": sorted(rng.sample(range(1, N_FLIGHTS + 1), 5))}
            elif fn == "peak_hour_all":
                yield fn, {}
            else:
                yield fn, {"day": d}


def _build(adsb, t, dims, fn, p):
    if fn == "landings_on":
        return adsb.landings_on(t["landings"], p["day"])
    if fn == "takeoffs_fromto":
        return adsb.takeoffs_fromto(t["takeoffs"], p["from_"], p["to_"])
    if fn == "events_histogram_all":
        return adsb.events_histogram_all(t["landings"], t["takeoffs"], p["starts"],
                                         p["ends"], "hour")
    if fn == "peak_hour_all":
        return adsb.peak_hour_all(t["landings"], t["takeoffs"], tz=TZ)
    if fn == "flight_path_geojson":
        return adsb.flight_path_geojson(t["positions"], p["ids"]).select(
            "flight_id", "geojson")
    if fn == "landings_on_details":
        return adsb.landings_on_details(t["landings"], t["flights"], dims["airlines"],
                                        dims["countries"], p["day"])
    if fn == "takeoff_paths_period":
        return adsb.takeoff_paths_period(t["takeoffs"], t["positions"], p["from_"], p["to_"])
    raise ValueError(fn)


def run(spark, work, seed: int, seconds: float, tracer) -> dict:
    from dump1090_postgis_spark.plans import adsb
    from dump1090_postgis_spark.plans.etl import build_tables

    traffic, cap_dir, dims = _prepare(spark, work, seed)
    log(f"capture_etl: {len(traffic.msgs)} lines, {len(traffic.events)} events")
    out_dir = work.sub("tables")
    span = tracer.span if tracer is not None else (lambda name: contextlib.nullcontext())
    setup_end = time.time()
    with RssSampler(jvm_process(spark).pid) as rss:
        with span("plans.etl.build_tables"):
            tables = build_tables(spark.read.text(cap_dir), dims["runways"], None,
                                  output_path=out_dir)
        with span("plans.etl.read_back"):
            counts = {k: v.count() for k, v in tables.items()}
        etl_s = time.time() - setup_end
        log(f"capture_etl: ETL {etl_s:.1f}s {counts}")
        results, lat = [], []
        # the ETL's garbage is collected here, not inside the timed loop
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        # Python's cyclic collector stays off while the loop runs: the
        # rows kept for the DuckDB check make every collection longer as
        # the loop goes, and those pauses landed inside the calls (with
        # it on, one seed's rounds ran 1.3-1.7x slower than with it off)
        gc.disable()
        n = len(ADSB_FNS)
        t_end = time.time() + seconds
        for fn, p in _calls(seed):
            t = time.time()
            with span(f"plans.adsb.{fn}.build"):
                df = _build(adsb, tables, dims, fn, p)
            with span(f"plans.adsb.{fn}.exec"):
                rows = df.collect()
            lat.append((fn, time.time() - t))
            results.append((fn, p, rows))
            if time.time() >= t_end and len(lat) % n == 0 and len(lat) >= MIN_ROUNDS * n:
                break
        gc.enable()
    log(f"capture_etl: {len(lat) // n} timed rounds: " + " ".join(
        f"{sum(s for _, s in lat[i:i + n]):.2f}s" for i in range(0, len(lat), n)))
    by_fn: dict[str, list[float]] = {}
    for fn, s in lat:
        by_fn.setdefault(fn, []).append(s)
    latency = math.exp(sum(math.log(median(v)) for v in by_fn.values()) / len(by_fn))
    log("capture_etl: median ms per call: " + " ".join(
        f"{fn}={median(v) * 1000:.0f}" for fn, v in by_fn.items()))

    from dump1090_postgis_spark.operators.parse import parse_sbs1_lines

    accepted = parse_sbs1_lines(spark.read.text(cap_dir)).count()
    failed = _check_tables(traffic, out_dir) + (accepted != len(traffic.msgs) - traffic.n_malformed)
    import oracle

    bad = oracle.check(out_dir, AIRLINES, COUNTRIES, results)
    failed += len(bad)
    for fn, why in bad[:5]:
        log(f"capture_etl: {fn} differs from DuckDB: {why}")
    attempted = 5 + len(results)
    layers = {"operators.parse.accept_ratio": accepted / len(traffic.msgs),
              "result.latency_p95_s": percentile([s for _, s in lat[n:]], 95),
              "session.peak_rss_mb": rss.peak}
    window_end = time.time()
    if tracer is not None:
        import curation

        cur = curation.run_traced(spark, work, seed, tracer)
        attempted += cur["attempted"]
        failed += cur["failed"]
        layers.update(cur["layers"])
    return {
        "e2e": {"batch_s": etl_s, "latency_p50_s": latency},
        "layers": layers, "attempted": attempted, "failed": failed,
        "setup_end": setup_end, "window_end": window_end, "meta": {},
        "samples": {"queries": len(lat)}, "out_dir": out_dir,
    }


def _ms(v) -> int:
    return int(round(v.replace(tzinfo=_dt.timezone.utc).timestamp() * 1000))


def _check_tables(traffic, out_dir: str) -> int:
    """Failed tables among flights, positions, landings, takeoffs."""
    def read(name, cols):
        ds = pads.dataset(os.path.join(out_dir, name), format="parquet",
                          partitioning="hive" if name != "flights" else None,
                          ignore_prefixes=[".", "_SUCCESS"])
        return ds.to_table(columns=cols).to_pylist()

    flights = read("flights", ["id", "hexident", "first_seen", "last_seen"])
    hexid = {r["id"]: r["hexident"] for r in flights}
    got_f = sorted((r["hexident"], _ms(r["first_seen"]) - tg.CAPTURE_BASE_MS,
                    _ms(r["last_seen"]) - tg.CAPTURE_BASE_MS) for r in flights)
    failed = int(got_f != sorted(traffic.flights))
    n_pos = len(read("positions", ["id"]))
    failed += int(n_pos != traffic.n_positions)
    for kind, name in (("landing", "landings"), ("takeoff", "takeoffs")):
        got = sorted((hexid.get(r["flight_id"]), _ms(r["time"]) - tg.CAPTURE_BASE_MS,
                      r["runway"]) for r in read(name, ["flight_id", "time", "runway"]))
        want = sorted((h, t, rw) for h, k, t, rw in traffic.events if k == kind)
        failed += int(got != want)
    return failed


def traced_layers(tracer, jobs, work, res) -> dict:
    import curation
    from tracing import busy_s, in_span, scan_file_counts, span_layers

    out = curation.traced_layers(tracer, jobs)
    build, back = tracer.find("plans.etl.build_tables"), tracer.find("plans.etl.read_back")
    etl = span_layers("plans.etl", jobs, build, back)
    for k in ("build_s", "eager_jobs", "eager_s", "action_jobs", "gap_s", "py4j_calls"):
        out[f"plans.etl.{k}"] = etl[f"plans.etl.{k}"]
    etl_jobs = in_span(jobs, build[0])
    ids = [j for j in etl_jobs if j.module == "operators.ids"]
    store = [j for j in etl_jobs if j.module == "operators.storage"]
    out["operators.ids.jobs"] = len(ids)
    out["operators.ids.task_s"] = sum(j.task_s for j in ids)
    out["operators.storage.write_s"] = busy_s(store, build[0].t0, build[0].t1)
    out["operators.storage.bytes_written"] = sum(j.bytes_written for j in store)
    out["operators.storage.files_written"] = sum(
        1 for t in ("positions", "landings", "takeoffs")
        for _, _, fs in os.walk(os.path.join(res["out_dir"], t))
        for f in fs if f.endswith(".parquet"))
    for fn in ADSB_FNS:
        b, e = tracer.find(f"plans.adsb.{fn}.build"), tracer.find(f"plans.adsb.{fn}.exec")
        if not b:
            continue
        out[f"plans.adsb.{fn}.build_s"] = median([s.t1 - s.t0 for s in b])
        out[f"plans.adsb.{fn}.exec_s"] = median([s.t1 - s.t0 for s in e])
        out[f"plans.adsb.{fn}.jobs"] = median(
            [len(in_span(jobs, x)) + len(in_span(jobs, y)) for x, y in zip(b, e)])
        out[f"plans.adsb.{fn}.py4j_calls"] = median(
            [x.py4j_calls + y.py4j_calls for x, y in zip(b, e)])
    query_spans = [s for s in tracer.spans if s.name.startswith("plans.adsb.")]
    read = total = 0
    for t, loc, n in scan_file_counts(work.sub("eventlog")):
        if not any(s.t0 <= t <= s.t1 for s in query_spans):
            continue
        m = re.search(r"\[file:([^,\]]+)", loc)
        if not m:
            continue
        read += n
        total += sum(1 for _, _, fs in os.walk(m.group(1)) for f in fs
                     if f.endswith(".parquet"))
    out["operators.storage.files_read_ratio"] = read / total if total else 0.0
    return out
