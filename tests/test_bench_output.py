"""The bench harness's final stdout line must survive the driver's
tail capture: the verification driver records only the last ~2000
characters of stdout and parses the final JSON line out of that
window.  BENCH_r05/r06.json show what happens otherwise — the
94-query one-liner overflowed the window, lost its head, and the
driver recorded ``parsed: null``.  These tests pin the contract of
``bench.format_bench_output`` without starting Spark."""

import json

from bench import BENCH_QUERIES, STDOUT_LINE_BUDGET, format_bench_output


def _fake_timings(n):
    # Realistic name lengths: reuse the actual bench registry names,
    # cycling if asked for more than exist.
    names = [BENCH_QUERIES[i % len(BENCH_QUERIES)] + ("" if i < len(BENCH_QUERIES) else f"_{i}") for i in range(n)]
    return {name: round(0.1 + (i % 37) * 0.173, 3) for i, name in enumerate(names)}


def test_small_map_prints_full_line_unchanged():
    timings = _fake_timings(10)
    full, out = format_bench_output(timings, 0.1)
    assert out == full
    parsed = json.loads(out)
    assert parsed["queries"] == timings
    assert parsed["value"] == round(sum(timings.values()), 3)
    assert "queries_full" not in parsed


def test_full_bench_set_fits_capture_window():
    timings = _fake_timings(len(BENCH_QUERIES))
    full, out = format_bench_output(timings, 0.1)
    assert len(out) <= STDOUT_LINE_BUDGET
    parsed = json.loads(out)
    # Headline fields intact and identical to the full line.
    full_parsed = json.loads(full)
    for key in ("metric", "value", "unit", "sf"):
        assert parsed[key] == full_parsed[key]
    assert full_parsed["queries"] == timings
    # Truncated line advertises itself and keeps the slowest entries.
    assert parsed["n_queries"] == len(timings)
    assert parsed["queries_full"] == "BENCH_FULL.json"
    kept = parsed["queries"]
    assert 0 < len(kept) < len(timings)
    # Continuity contract (r13 verdict Next #2): every name the
    # previous round's driver artifact printed stays in the printed
    # map regardless of rank, so PERF never reads phantom drops.
    from bench import PRINTED_CONTINUITY

    pinned_present = PRINTED_CONTINUITY & set(timings)
    assert pinned_present <= set(kept)
    # The REMAINING budget is filled slowest-first: any non-pinned
    # dropped name is no faster than the slowest non-pinned kept one.
    nonpinned_kept = [v for k, v in kept.items() if k not in PRINTED_CONTINUITY]
    dropped = [v for k, v in timings.items() if k not in kept]
    if nonpinned_kept:
        assert all(v <= min(nonpinned_kept) for v in dropped)
    assert all(k not in PRINTED_CONTINUITY for k in timings if k not in kept)


def test_truncation_is_deterministic():
    timings = _fake_timings(len(BENCH_QUERIES))
    # The printed (truncated) line ranks slowest-first with name
    # tiebreak, so it is identical whatever order the run populated
    # the timings dict in; the full line keeps run order by design.
    _, out_a = format_bench_output(timings, 0.1)
    _, out_b = format_bench_output(dict(reversed(list(timings.items()))), 0.1)
    assert out_a == out_b


def test_ab_summary_pairs_and_flags_drift():
    """--ab-ref aggregation: min-of-runs per side, paired deltas, and
    registry drift between trees surfaces in `unpaired` instead of
    vanishing."""
    from bench import ab_summary

    new_runs = [
        {"q1": 2.0, "q2": 5.0, "only_new": 1.0},
        {"q1": 1.5, "q2": 6.0, "only_new": 0.9},
    ]
    ref_runs = [
        {"q1": 1.0, "q2": 8.0, "only_ref": 3.0},
        {"q1": 1.2, "q2": 7.0, "only_ref": 2.0},
    ]
    out = ab_summary(new_runs, ref_runs)
    assert out["queries"]["q1"] == {
        "new": 1.5, "ref": 1.0, "delta": 0.5, "ratio": 1.5,
    }
    assert out["queries"]["q2"]["delta"] == -2.0
    assert out["unpaired"] == ["only_new", "only_ref"]
    assert out["total_new"] == 6.5 and out["total_ref"] == 8.0


def test_r11_subtotal_present_iff_full_set_covered():
    """The frozen comparable subtotal (round-11 verdict #7): emitted on
    full-set runs (and runs covering at least the whole pinned set),
    omitted on subset runs where a partial sum would mislead."""
    from bench import BENCH_R11_SET

    assert BENCH_R11_SET <= set(BENCH_QUERIES)
    assert "join5_runway_attribution_grid" not in BENCH_R11_SET

    timings = _fake_timings(len(BENCH_QUERIES))
    full, _ = format_bench_output(timings, 0.1)
    parsed = json.loads(full)
    want = round(sum(timings[n] for n in BENCH_R11_SET), 3)
    assert parsed["value_r11_set"] == want
    assert parsed["value"] >= want  # new-query time sits on top

    subset = {n: 1.0 for n in list(BENCH_R11_SET)[:5]}
    full_sub, _ = format_bench_output(subset, 0.1)
    assert "value_r11_set" not in json.loads(full_sub)


def test_r13_subtotal_pins_current_full_set():
    from bench import BENCH_R12_SET, BENCH_R13_SET, PINNED_SETS

    assert BENCH_R13_SET == set(BENCH_QUERIES)  # re-pin when the set grows
    assert BENCH_R12_SET < BENCH_R13_SET  # strict: r13 added entries
    timings = _fake_timings(len(BENCH_QUERIES))
    full, _ = format_bench_output(timings, 0.1)
    parsed = json.loads(full)
    for key, pinned in PINNED_SETS:
        assert parsed[key] == round(sum(timings[n] for n in pinned), 3)
    assert parsed["value_r13_set"] == parsed["value"]
    assert parsed["value_r12_set"] < parsed["value"]


def test_pinned_set_overflowing_budget_raises(monkeypatch):
    """If the PRINTED_CONTINUITY names alone cannot fit the capture
    window, the continuity contract cannot hold: formatting must fail
    loudly rather than silently drop pinned names from the printed
    map.  Pin every timed name to force the overflow."""
    import pytest

    import bench

    timings = _fake_timings(len(BENCH_QUERIES))
    monkeypatch.setattr(bench, "PRINTED_CONTINUITY", frozenset(timings))
    with pytest.raises(ValueError, match="PRINTED_CONTINUITY"):
        bench.format_bench_output(timings, 0.1)
