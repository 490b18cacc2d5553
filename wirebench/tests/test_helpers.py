"""Tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest wirebench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import re
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import corpusgen as cg  # noqa: E402
import curation  # noqa: E402
import oracle  # noqa: E402
import trafficgen as tg  # noqa: E402
from harness import percentile  # noqa: E402
from metrics import E2E, HIGHER_IS_BETTER, PER_LAYER  # noqa: E402
from tracing import Job, Span, Tracer, busy_s, call_site_module, read_event_log, span_layers  # noqa: E402

STEADY_S = 4


def _lines(traffic, base=1_700_000_000_000):
    return [tg.render(m, base) for m in traffic.msgs]


def test_same_seed_gives_byte_identical_feed_and_truth():
    a, b = tg.live_traffic(7, STEADY_S), tg.live_traffic(7, STEADY_S)
    assert tg.digest(_lines(a)) == tg.digest(_lines(b))
    assert a.events == b.events
    c = tg.live_traffic(8, STEADY_S)
    assert tg.digest(_lines(a)) != tg.digest(_lines(c))


def test_capture_is_deterministic_and_counts_flights():
    strips = tg.dispersed_strips(3, 150)
    a = tg.capture_traffic(3, 200, strips)
    b = tg.capture_traffic(3, 200, tg.dispersed_strips(3, 150))
    assert tg.digest(_lines(a, tg.CAPTURE_BASE_MS)) == tg.digest(_lines(b, tg.CAPTURE_BASE_MS))
    assert len(a.flights) == 200
    by_aircraft = defaultdict(list)
    for hexid, first, last in a.flights:
        by_aircraft[hexid].append((first, last))
    for spans in by_aircraft.values():
        spans.sort()
        for (_, end), (start, _) in zip(spans, spans[1:]):
            assert start - end > tg.SESSION_GAP_MS  # one session per flight
    assert a.n_positions == sum(1 for m in a.msgs if m.malformed < 0 and m.mtype in (2, 3))


def test_truth_honours_admission_and_debounce():
    t = tg.live_traffic(1, STEADY_S)
    first = {}
    for m in t.msgs:
        if m.malformed < 0:
            first.setdefault(m.hexident, m)
    for m in first.values():  # a flight opens on MSG2 or MSG3 in band
        assert m.mtype == 2 or (m.mtype == 3 and -1000 < m.alt < 10000)
    last = {}
    for hexid, _, t_ms, _ in t.events:
        if hexid in last:
            assert t_ms - last[hexid] >= tg.MIN_EDGE_GAP_MS > 2000
        last[hexid] = t_ms
    kinds = {(k, rw) for _, k, _, rw in t.events}
    assert {("landing", "03"), ("landing", "21"), ("takeoff", "03"), ("takeoff", "21"),
            ("landing", tg.UNMATCHED)} <= kinds


def test_live_window_holds_enough_events_for_p99():
    t = tg.live_traffic(3, 8)
    lo, hi = t.marks["steady_start_ms"], t.marks["steady_end_ms"]
    n = sum(1 for _, _, t_ms, _ in t.events if lo <= t_ms < hi)
    assert n >= 1000  # p99 rests on ten samples or more
    assert abs(len(t.msgs) / (hi / 1000) - tg.LIVE_RATE) < 0.02 * tg.LIVE_RATE


def _shingles(text):
    w = cg.normalized_words(text)
    return {tuple(w[i:i + 3]) for i in range(len(w) - 2)}


def test_corpus_is_deterministic_and_plants_what_its_truth_says():
    a, b = cg.make_corpus(4), cg.make_corpus(4)
    assert [x.docs for x in a.batches] == [x.docs for x in b.batches]
    assert [x.vectors for x in a.batches] == [x.vectors for x in b.batches]
    assert (a.parent, a.copies, a.contaminated, a.vec_dups) == (
        b.parent, b.copies, b.contaminated, b.vec_dups)
    assert [x.docs for x in cg.make_corpus(5).batches] != [x.docs for x in a.batches]
    assert [len(x.docs) for x in a.batches] == list(cg.N_DOCS)
    text = {d[0]: d[1] for d in a.docs(1)}
    bench = {d[0] for d in a.docs(1) if d[3] == "bench"}
    assert len(bench) == cg.N_BENCH
    assert len(a.contaminated) == sum(cg.N_CONTAMINATED)
    assert all(a.parent[i] in bench for i in a.contaminated)
    second = {d[0] for d in a.batches[1].docs}
    assert any(a.root(i) not in second for i in second if i in a.parent)  # across batches
    for child, parent in a.parent.items():
        x, y = _shingles(text[child]), _shingles(text[parent])
        if child in a.copies:
            assert cg.normalized_words(text[child]) == cg.normalized_words(text[parent])
        else:
            assert len(x & y) / len(x | y) >= 0.98
    assert a.overlaps
    for child, base in a.overlaps.items():
        x, y = _shingles(text[child]), _shingles(text[base])
        assert 0.2 < len(x & y) / len(x | y) < 0.45  # below the 0.5 threshold
    roots = [i for i in text if i not in a.parent and i not in a.overlaps]
    worst = max(len(_shingles(text[i]) & _shingles(text[j])) / len(
        _shingles(text[i]) | _shingles(text[j])) for i, j in zip(roots, roots[1:]))
    assert worst < 0.2


def test_planted_vectors_are_the_only_ones_past_tau():
    c = cg.make_corpus(6)
    vecs = [v for b in c.batches for v in b.vectors]
    for vid, v, _ in vecs:
        assert abs(sum(x * x for x in v) - 1.0) < 1e-9
    dup_of = {}
    for i, (vid, v, label) in enumerate(vecs):
        best = max(((sum(x * y for x, y in zip(v, w)), wid) for wid, w, _ in vecs[:i]),
                   default=(0.0, None))
        if vid in c.vec_dups:
            assert best[0] > 0.9999
            dup_of[vid] = best[1]
        else:
            assert best[0] < curation.TAU
    assert len(dup_of) == len(c.vec_dups) > 0


def test_curation_check_flags_each_wrong_output():
    c = cg.make_corpus(2)
    truth = _truth_outputs(c)
    assert curation.check(c, truth) == []
    for name in curation.CHECKS:
        broken = dict(truth)
        v = broken[name]
        broken[name] = v + 1 if isinstance(v, int) else v[1:]
        assert curation.check(c, broken) == [name]


def _truth_outputs(c):
    r = {}
    for b in (1, 2):
        docs = c.docs(b - 1)
        groups = {}
        for d in docs:
            groups.setdefault(" ".join(cg.normalized_words(d[1])), []).append(d[0])
        r[f"exact{b}"] = sorted(({"keep_id": min(g), "n_copies": len(g)}
                                 for g in groups.values()), key=lambda x: -x["n_copies"])
        first = {}
        for d in docs:
            first.setdefault(c.root(d[0]), d[0])
        r[f"map{b}"] = [{"doc_id": d[0], "component": first[c.root(d[0])]} for d in docs]
        batch = c.batches[b - 1].docs
        frame = batch if b == 1 else batch + [d for d in c.batches[0].docs if d[3] == "bench"]
        r[f"decon{b}"] = [{"doc_id": d[0]} for d in frame if d[0] not in c.contaminated]
        r[f"sem{b}"] = [{"vec_id": v[0], "keep": v[0] not in c.vec_dups}
                        for bb in c.batches[:b] for v in bb.vectors]
    counts = {}
    for d in c.batches[0].docs:
        for w in cg.normalized_words(d[1]):
            counts[w] = counts.get(w, 0) + 1
    r["oov"] = [{"doc_id": d[0], "n_tokens": len(cg.normalized_words(d[1])),
                 "n_oov": sum(1 for w in cg.normalized_words(d[1]) if counts.get(w, 0) < 2)}
                for d in c.batches[1].docs]
    r["lsh_rows"] = curation.BANDS * sum(len(b.docs) for b in c.batches)
    return r


def _inside(pt, poly):
    x, y = pt
    inside = False
    for (x1, y1), (x2, y2) in zip(poly, poly[1:] + poly[:1]):
        if (y1 > y) != (y2 > y) and x < (x2 - x1) * (y - y1) / (y2 - y1) + x1:
            inside = not inside
    return inside


def test_runway_edges_lie_on_the_strip_along_its_direction():
    strips = tg.dispersed_strips(5, 150)
    t = tg.capture_traffic(5, 300, strips)
    ends = {}
    for s in strips:
        d = round(tg.track(s.a, s.b))
        ends[s.name_ab] = (s, d)
        ends[s.name_ba] = (s, (d + 180) % 360)
    prev_pos, at_edge = {}, {}
    events = {(h, ms): rw for h, _, ms, rw in t.events}
    for m in t.msgs:
        if m.malformed >= 0 or m.mtype not in (2, 3):
            continue
        key = (m.hexident, m.t_ms)
        if key in events and events[key] != tg.UNMATCHED:
            at_edge[key] = (prev_pos[m.hexident], (m.lon, m.lat))
        prev_pos[m.hexident] = (m.lon, m.lat)
    assert at_edge
    for key, (p, q) in at_edge.items():
        strip, direction = ends[events[key]]
        rounded = [(round(x, 5), round(y, 5)) for x, y in (p, q)]
        assert abs(tg.track(*rounded) - direction) <= 20.0  # the engine's tolerance
        assert _inside(rounded[1], strip.polygon())


def test_malformed_lines_fail_the_parse_gate():
    from dump1090_postgis_spark.operators.parse import REFERENCE_LINE_REGEX

    gate = re.compile(REFERENCE_LINE_REGEX.replace("(?U)", ""))
    t = tg.live_traffic(2, STEADY_S)
    bad = [tg.render(m, 0) for m in t.msgs if m.malformed >= 0]
    good = [tg.render(m, 0) for m in t.msgs if m.malformed < 0]
    assert len(bad) == t.n_malformed > 0
    assert not any(len(x.split(",")) == 22 and gate.match(x) for x in bad)
    assert all(len(x.split(",")) == 22 and gate.match(x) for x in good[:2000])


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 95) == 95
    assert percentile(xs, 99) == 99
    assert percentile([3.0], 99) == 3.0
    assert percentile([5, 1, 4, 2, 3], 95) == 5


def test_call_sites_group_by_package_module():
    pkg = os.path.join(ROOT, "dump1090_postgis_spark")
    assert call_site_module(os.path.join(pkg, "operators", "ids.py")) == "operators.ids"
    assert call_site_module(os.path.join(pkg, "plans", "etl.py")) == "plans.etl"
    assert call_site_module(os.path.join(BENCH, "capture.py")) == "wirebench"
    assert call_site_module("/usr/lib/python3/json/__init__.py") == "other"


def test_jobs_are_charged_to_the_innermost_gateway_call(tmp_path):
    tr = Tracer()
    tr.calls = [(10.0, 20.0, "plans.etl"), (12.0, 13.0, "operators.ids"),
                (15.0, 16.0, "operators.storage")]
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 12500,
         "Stage IDs": [0]},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 12900},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 15100,
         "Stage IDs": [1, 2]},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 15900},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {
            "Executor Run Time": 300, "JVM GC Time": 7,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 11},
            "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 5,
            "Output Metrics": {"Bytes Written": 99}}},
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    jobs = read_event_log(str(tmp_path), tr)
    assert [j.module for j in jobs] == ["operators.ids", "operators.storage"]
    j = jobs[1]
    assert (j.task_s, j.gc_ms, j.shuffle_write, j.spill, j.bytes_written) == (0.3, 7, 11, 5, 99)


def test_span_split_counts_gaps_between_jobs():
    jobs = [Job(0, 1.0, 2.0, []), Job(1, 1.5, 3.0, []), Job(2, 6.0, 7.0, [])]
    assert math.isclose(busy_s(jobs, 0.0, 10.0), 3.0)
    build, action = Span("b", 0.0, 4.0, py4j_calls=5), Span("a", 5.0, 8.0, py4j_calls=2)
    out = span_layers("x", jobs, [build], [action])
    assert out["x.eager_jobs"] == 2 and out["x.action_jobs"] == 1
    assert math.isclose(out["x.eager_s"], 2.0) and math.isclose(out["x.build_s"], 4.0)
    assert math.isclose(out["x.gap_s"], (4.0 - 2.0) + (3.0 - 1.0))
    assert out["x.py4j_calls"] == 7


def test_oracle_normalizes_engine_renderings():
    assert oracle._wkt_points("LINESTRING (-1.6 47.14, -1.61 47.15)") == (
        (-1.6, 47.14), (-1.61, 47.15))
    assert oracle._geojson_points('{"type":"LineString","coordinates":[[-1.7,47.2]]}') == (
        (-1.7, 47.2),)


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    for m in spec["per_layer"]:
        assert m["better"] == ("higher" if m["name"] in HIGHER_IS_BETTER else "lower")
    assert [w["name"] for w in spec["workloads"]] == ["live_feed", "capture_etl"]
