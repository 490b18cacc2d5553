"""Operator semantics: sessionization boundaries, edge detection
transition matrix (mirrors the reference's test_models.py cases),
debounce quiet-gap behavior, histogram zero-fill, peak-hour ranking,
union-distinct parity, dedup keep-max-id."""

import datetime

import pytest
from pyspark.sql import functions as F

from dump1090_postgis_spark.operators.dedup import dedup_keep_max_id
from dump1090_postgis_spark.operators.events import (
    debounce_events,
    detect_onground_edges,
)
from dump1090_postgis_spark.operators.histogram import events_histogram
from dump1090_postgis_spark.operators.peak_hour import (
    peak_hour,
    union_events,
)
from dump1090_postgis_spark.operators.sessionize import (
    active_session_count,
    flight_summaries,
    sessionize,
)

T0 = datetime.datetime(2024, 5, 1, 10, 0, 0)


def ts(s):
    return T0 + datetime.timedelta(seconds=s)


def _msgs(spark, rows):
    return spark.createDataFrame(
        rows, "hexident string, gen_date_time timestamp, onground boolean"
    )


# --- sessionize -----------------------------------------------------------


def test_session_gap_boundary(spark):
    # gap == 300 s exactly does NOT start a new session (> semantics);
    # 300.000001 s does.
    df = _msgs(
        spark,
        [
            ("A", ts(0), False),
            ("A", ts(300), False),                       # == gap → same session
            ("A", ts(300) + datetime.timedelta(microseconds=600_000_001), False),
        ],
    )
    out = sessionize(df).orderBy("gen_date_time").collect()
    assert [r.session_id for r in out] == [0, 0, 1]


def test_sessions_independent_per_key(spark):
    df = _msgs(spark, [("A", ts(0), False), ("B", ts(1000), False),
                       ("A", ts(1000), False)])
    out = {(r.hexident, r.gen_date_time): r.session_id
           for r in sessionize(df).collect()}
    assert out[("A", ts(0))] == 0 and out[("A", ts(1000))] == 1
    assert out[("B", ts(1000))] == 0


# --- edge detection (reference transition matrix, test_models.py) ---------


@pytest.mark.parametrize(
    "sequence,expected",
    [
        ([False, True], ["landing"]),                      # air → ground
        ([True, False], ["takeoff"]),                      # ground → air
        ([False, False], []),                              # enroute
        ([True, True], []),                                # taxi
        ([True], []),                                      # first observation
        ([False, True, False, True], ["landing", "takeoff", "landing"]),
    ],
)
def test_edge_transition_matrix(spark, sequence, expected):
    rows = [("A", ts(10 * i), og) for i, og in enumerate(sequence)]
    df = _msgs(spark, rows).withColumn("session_id", F.lit(0))
    out = (
        detect_onground_edges(df)
        .orderBy("gen_date_time")
        .select("event_type")
        .collect()
    )
    assert [r.event_type for r in out] == expected


def test_edges_ignore_null_onground(spark):
    # messages not carrying onground (FLT-3) must not break a run
    df = _msgs(
        spark,
        [("A", ts(0), False), ("A", ts(5), None), ("A", ts(10), True)],
    ).withColumn("session_id", F.lit(0))
    out = detect_onground_edges(df).collect()
    assert len(out) == 1 and out[0].event_type == "landing"


# --- debounce (models.py:256-270 quiet-gap semantics) ---------------------


def test_debounce_quiet_gap(spark):
    # candidates at 0, 1.5, 3.0, 6.0 s: the reference updates its clock
    # on suppressed events, so 3.0 (gap 1.5 to the *suppressed* 1.5)
    # is ALSO suppressed; 6.0 (gap 3.0) survives.
    rows = [("A", T0 + datetime.timedelta(seconds=s), True)
            for s in [0.0, 1.5, 3.0, 6.0]]
    df = _msgs(spark, rows).withColumn("session_id", F.lit(0))
    out = debounce_events(df).orderBy("gen_date_time").collect()
    secs = [(r.gen_date_time - T0).total_seconds() for r in out]
    assert secs == [0.0, 6.0]


def test_debounce_exact_2s_suppressed(spark):
    rows = [("A", T0, True), ("A", T0 + datetime.timedelta(seconds=2), True)]
    df = _msgs(spark, rows).withColumn("session_id", F.lit(0))
    assert debounce_events(df).count() == 1  # gap must be strictly > 2 s


# --- flight summaries (AGG-6) --------------------------------------------


def test_flight_summary_last_non_null(spark):
    df = spark.createDataFrame(
        [
            ("A", ts(0), 3, None, 1000),
            ("A", ts(10), 1, "CS1", None),
            ("A", ts(20), 3, None, 2000),
        ],
        "hexident string, gen_date_time timestamp, transmission_type int,"
        " callsign string, altitude int",
    )
    out = flight_summaries(
        sessionize(df), last_value_fields=("callsign", "altitude")
    ).collect()[0]
    assert out.first_seen == ts(0) and out.last_seen == ts(20)
    assert out.last_callsign == "CS1"       # null at ts20 doesn't overwrite
    assert out.last_altitude == 2000
    assert out.n_msg3 == 2 and out.n_msg1 == 1


def test_active_session_count_window(spark):
    """AGG-8 pool size at ts(600): sessions whose last message lies in
    [ts(300), ts(600)] — the pool's 300 s timeout, both ends inclusive."""
    df = _msgs(spark, [
        ("A", ts(200), False), ("A", ts(350), False),  # last 350: active
        ("B", ts(0), False),                           # timed out
        ("C", ts(300), False),                         # on the boundary
        ("D", ts(700), False),                         # after the probe
        ("E", ts(0), False), ("E", ts(500), False),    # 2nd session active
    ])
    out = active_session_count(sessionize(df), ts(600)).collect()
    assert [r.active_sessions for r in out] == [3]


# --- histogram zero-fill ---------------------------------------------------


def test_histogram_zero_fill_and_bounds(spark):
    df = spark.createDataFrame(
        [(1, ts(0)), (2, ts(30)), (3, ts(7200))],
        "flight_id long, time timestamp",
    )
    out = events_histogram(df, ts(0), ts(7200), "hour").collect()
    assert len(out) == 3  # 10:00, 11:00, 12:00
    # reference semantics: event exactly at `ends` lands in the last bin
    assert [r.events for r in out] == [2, 0, 1]
    assert out[0].ids == [1, 2] and out[1].ids == []


def test_histogram_ids_free_scale_variant(spark):
    """include_ids=False: same zero-filled counts, no per-bin id array
    (constant-size rows — the hot-bin-safe variant for 100× scale)."""
    df = spark.createDataFrame(
        [(1, ts(0)), (2, ts(30)), (3, ts(7200))],
        "flight_id long, time timestamp",
    )
    out = events_histogram(df, ts(0), ts(7200), "hour", include_ids=False)
    assert out.columns == ["interval", "events"]
    assert [r.events for r in out.collect()] == [2, 0, 1]


def test_histogram_invalid_bin(spark):
    df = spark.createDataFrame([(1, ts(0))], "flight_id long, time timestamp")
    with pytest.raises(ValueError):
        events_histogram(df, ts(0), ts(100), "fortnight")


# --- peak hour -------------------------------------------------------------


def _events_at(spark, seconds):
    return spark.createDataFrame(
        [(T0 + datetime.timedelta(seconds=s),) for s in seconds],
        "time timestamp",
    )


def test_peak_hour_finds_densest_window(spark):
    # cluster of 4 events within an hour, plus stragglers
    ev = _events_at(spark, [0, 100, 200, 300, 50000, 80000])
    out = peak_hour(ev).collect()
    assert out[0].events == 4


def test_peak_hour_scalable_matches_exact(spark):
    import random

    rnd = random.Random(7)
    secs = sorted(rnd.uniform(0, 3 * 86400) for _ in range(300))
    ev = _events_at(spark, secs)
    exact = [(str(r.day), str(r.peak_hour), r.events)
             for r in peak_hour(ev, partitioned=False).collect()]
    scalable = [(str(r.day), str(r.peak_hour), r.events)
                for r in peak_hour(ev).collect()]
    assert exact == scalable


@pytest.mark.parametrize(
    "gran_s",
    [
        3600,    # hour buckets, window == granularity (k=1, 2× copies)
        86400,   # day buckets (the r1 design; k=1, ~4% copies)
        1800,    # window SPANS two bucket boundaries (k=2)
        5000,    # granularity not a divisor of the window or the day
    ],
)
def test_sliding_counts_granularity_parity(spark, gran_s):
    """The overlap-copy trick must equal the global window at EVERY
    partition granularity, including window > granularity (multi-step
    spill) and non-divisor bucket sizes."""
    import random

    from dump1090_postgis_spark.operators.peak_hour import sliding_hour_counts

    rnd = random.Random(13)
    # cluster events tightly around bucket boundaries to stress spill
    secs = [rnd.uniform(0, 2 * 86400) for _ in range(150)]
    secs += [gran_s * j + d for j in (1, 2, 3) for d in (-1.5, -0.5, 0.0, 0.5)]
    ev = _events_at(spark, sorted(secs))
    key = lambda r: (str(r.time), r.events)  # noqa: E731
    exact = sorted(map(key, sliding_hour_counts(
        ev, partitioned=False).collect()))
    part = sorted(map(key, sliding_hour_counts(
        ev, granularity_s=gran_s).collect()))
    assert exact == part


# --- set ops / dedup -------------------------------------------------------


def test_union_events_distinct(spark):
    a = spark.createDataFrame([(1, ts(0))], "flight_id long, time timestamp")
    b = spark.createDataFrame(
        [(1, ts(0)), (2, ts(5))], "flight_id long, time timestamp"
    )
    assert union_events(a, b).count() == 2  # SQL UNION removes the dup


def test_dedup_keep_max_id(spark):
    df = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 20)], "id long, flight_id long"
    )
    out = {r.flight_id: r.id for r in dedup_keep_max_id(df).collect()}
    assert out == {10: 2, 20: 3}


# --- salted skew aggregation ------------------------------------------------


def test_salted_aggregate_matches_direct(spark):
    """Two-stage salted groupBy must equal the direct groupBy exactly,
    and spread each key over multiple stage-1 partials."""
    import pyspark.sql.functions as F

    from dump1090_postgis_spark.operators.skew import salted_aggregate

    rows = [("hot", i, float(i % 7)) for i in range(500)]
    rows += [("cold", i, float(i)) for i in range(5)]
    df = spark.createDataFrame(rows, "k string, v long, x double")
    out = {r.k: r for r in salted_aggregate(
        df, "k",
        counts=[("n", None)],
        sums=[("sv", "v")],
        mins=[("mn", "v")],
        maxs=[("mx", "v")],
        n_salts=8,
    ).collect()}
    assert out["hot"].n == 500 and out["cold"].n == 5
    assert out["hot"].sv == sum(range(500))
    assert out["hot"].mn == 0 and out["hot"].mx == 499
    # deterministic salt column → verifiable spread across partials
    spread = salted_aggregate(
        df, "k", counts=[("n", None)], n_salts=8,
        salt_source=F.col("v"),
    )
    assert {r.n for r in spread.collect()} == {500, 5}


def test_salted_aggregate_requires_aggs(spark):
    from dump1090_postgis_spark.operators.skew import salted_aggregate

    df = spark.createDataFrame([("a", 1)], "k string, v long")
    with pytest.raises(ValueError):
        salted_aggregate(df, "k")


def test_source_overlap_counts_distinct_shared_texts(spark):
    from dump1090_postgis_spark.datapipe.versioning import source_overlap

    rows = [
        (1, "x", "A"), (2, "x", "B"),     # x shared by A,B
        (3, "y", "A"), (4, "y", "B"), (5, "y", "C"),  # y by A,B,C
        (6, "x", "A"),                     # dup within A: still 1 text
        (7, "z", "C"),                     # z only in C
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {(r.src_a, r.src_b): r.shared_texts
           for r in source_overlap(df).collect()}
    assert got == {("A", "B"): 2, ("A", "C"): 1, ("B", "C"): 1}


def test_transition_counts_lag_per_key(spark):
    import datetime as dt
    from dump1090_postgis_spark.operators.events import transition_counts

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, 1, t0, "view"), (2, 1, t0.replace(minute=1), "click"),
        (3, 1, t0.replace(minute=2), "buy"),
        (4, 2, t0, "view"), (5, 2, t0.replace(minute=1), "click"),
        (6, 3, t0, "view"),  # single event: no transition
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    got = {(r.from_type, r.to_type): r.n_transitions
           for r in transition_counts(df).collect()}
    assert got == {("view", "click"): 2, ("click", "buy"): 1}


def test_profile_columns_census(spark):
    from dump1090_postgis_spark.operators.profile import profile_columns

    rows = [(1, "a", None), (2, "a", 1.0), (3, None, 2.0), (4, "b", 2.0)]
    df = spark.createDataFrame(rows, "id long, s string, v double")
    got = {r.col_name: r for r in profile_columns(df).collect()}
    assert set(got) == {"id", "s", "v"}
    for r in got.values():
        assert r.n_rows == 4
    assert (got["id"].n_nulls, got["id"].n_distinct) == (0, 4)
    assert (got["s"].n_nulls, got["s"].n_distinct) == (1, 2)
    assert (got["v"].n_nulls, got["v"].n_distinct) == (1, 2)


def test_funnel_steps_ordered(spark):
    """Funnel requires IN-ORDER steps: a click BEFORE the first view
    must not satisfy step 2."""
    from datetime import datetime

    from dump1090_postgis_spark.operators.analytics import funnel_steps

    t = lambda m: datetime(2024, 1, 1, 0, m)
    rows = [
        # user 1: full ordered funnel
        (1, 1, t(0), "view"), (2, 1, t(1), "click"), (3, 1, t(2), "purchase"),
        # user 2: click precedes the only view -> reaches step 1 only
        (4, 2, t(0), "click"), (5, 2, t(1), "view"),
        # user 3: view then purchase (skips click) -> step 1 only
        (6, 3, t(0), "view"), (7, 3, t(5), "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    got = {r.step: (r.step_idx, r.n_users)
           for r in funnel_steps(df, ["view", "click", "purchase"]).collect()}
    assert got == {"view": (1, 3), "click": (2, 1), "purchase": (3, 1)}


def test_funnel_same_timestamp_satisfies_next_step(spark):
    """ts >= t_prev: a simultaneous next-step event counts (matches
    the SQL formulation both engines run)."""
    from datetime import datetime

    from dump1090_postgis_spark.operators.analytics import funnel_steps

    t0 = datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(1, 1, t0, "view"), (2, 1, t0, "click")],
        "event_id long, user_id long, ts timestamp, event_type string",
    )
    got = {r.step: r.n_users for r in funnel_steps(df, ["view", "click"]).collect()}
    assert got == {"view": 1, "click": 1}


def test_pivot_daily_activity_zero_fill(spark):
    from datetime import datetime

    from dump1090_postgis_spark.operators.analytics import pivot_daily_activity

    df = spark.createDataFrame(
        [
            (1, 1, datetime(2024, 1, 1, 5), "view"),
            (2, 1, datetime(2024, 1, 1, 6), "view"),
            (3, 2, datetime(2024, 1, 2, 5), "click"),
        ],
        "event_id long, user_id long, ts timestamp, event_type string",
    )
    got = {r.day_s: r for r in pivot_daily_activity(df, ["view", "click"]).collect()}
    assert (got["2024-01-01"].n_view, got["2024-01-01"].n_click) == (2, 0)
    assert (got["2024-01-02"].n_view, got["2024-01-02"].n_click) == (0, 1)


def test_ntile_bands_deterministic_under_ties(spark):
    """8 rows, 2 keys, all-equal values in key b: the (value, id) total
    order still yields a deterministic 2/2 band split."""
    from dump1090_postgis_spark.operators.analytics import ntile_bands

    rows = [(i, "a", float(i)) for i in range(1, 5)]
    rows += [(i, "b", 7.0) for i in range(5, 9)]
    rows += [(99, "a", None)]  # NULL value excluded
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    out = ntile_bands(df, n=2).collect()
    got = {(r.event_type, r.band): (r.n_rows, r.min_v, r.max_v) for r in out}
    assert got[("a", 1)] == (2, 1.0, 2.0)
    assert got[("a", 2)] == (2, 3.0, 4.0)
    # ties: ids 5,6 -> band 1; ids 7,8 -> band 2
    assert got[("b", 1)] == (2, 7.0, 7.0)
    assert got[("b", 2)] == (2, 7.0, 7.0)
    assert ("a", 3) not in got and len(out) == 4


def test_sketch_accuracy_report_contract(spark):
    """HLL and approx-percentile must land inside the reported
    tolerance on a 5k-distinct group (rsd 2% ⇒ well under the 5%
    gate), and the exact count must be exact."""
    from pyspark.sql import functions as F

    from dump1090_postgis_spark.operators.analytics import sketch_accuracy_report

    df = spark.range(5000).select(
        F.lit("k").alias("event_type"),
        F.col("id").alias("user_id"),
        (F.col("id") % 100).cast("double").alias("value"),
    )
    (row,) = sketch_accuracy_report(df).collect()
    assert row.n_exact == 5000
    assert row.hll_ok is True and row.pct_ok is True


def test_sketch_accuracy_all_null_group_is_vacuously_ok(spark):
    """A key group whose val_col is entirely NULL has NULL percentiles
    on both sides — the contract is vacuously met (TRUE, matching the
    oracle), not a NULL that would hash-mismatch."""
    from pyspark.sql import functions as F

    from dump1090_postgis_spark.operators.analytics import sketch_accuracy_report

    df = spark.range(10).select(
        F.lit("nullgrp").alias("event_type"),
        F.col("id").alias("user_id"),
        F.lit(None).cast("double").alias("value"),
    )
    (row,) = sketch_accuracy_report(df).collect()
    assert row.pct_ok is True


def test_check_constraints_counts_planted_violations(spark):
    from pyspark.sql import functions as F

    from dump1090_postgis_spark.operators.quality import (
        check_constraints,
        in_range,
        is_in,
        not_null,
    )

    rows = [
        (1, 10.0, "a", 100),
        (1, -5.0, "b", 100),    # dup id, range violation
        (None, 5.0, "zz", 999),  # null id, bad enum, orphan fk
        (3, None, "a", None),    # NULL value is NOT a range violation
    ]
    df = spark.createDataFrame(rows, "id long, v double, t string, fk long")
    dim = spark.createDataFrame([(100,)], "pk long")
    got = {
        r.rule: r.n_violations
        for r in check_constraints(
            df,
            row_rules=[not_null("id"), in_range("v", 0.0, 100.0), is_in("t", ["a", "b"])],
            unique=["id"],
            references=[("fk", dim.select(F.col("pk")), "pk")],
        ).collect()
    }
    assert got == {
        "not_null(id)": 1,
        "in_range(v,0.0,100.0)": 1,
        "is_in(t)": 1,
        "unique(id)": 1,
        "references(fk)": 1,
    }


def test_check_constraints_clean_table_all_zero(spark):
    from dump1090_postgis_spark.operators.quality import check_constraints, not_null

    df = spark.createDataFrame([(1,), (2,)], "id long")
    got = {r.rule: r.n_violations
           for r in check_constraints(df, [not_null("id")], unique=["id"]).collect()}
    assert got == {"not_null(id)": 0, "unique(id)": 0}


def test_partial_histogram_merge_associative(spark):
    """Three-way splits merged in different groupings must agree with
    the direct aggregation (the incremental-matview contract)."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from dump1090_postgis_spark.operators.histogram import (
        merge_partial_histograms,
        partial_histogram,
    )

    rows = [(i, datetime(2024, 1, 1, i % 3)) for i in range(30)]
    df = spark.createDataFrame(rows, "flight_id long, time timestamp")
    parts3 = [partial_histogram(df.filter(F.col("flight_id") % 3 == i))
              for i in range(3)]
    direct = {r.interval: (r.events, list(r.ids))
              for r in partial_histogram(df).collect()}
    merged = {r.interval: (r.events, list(r.ids))
              for r in merge_partial_histograms(parts3).collect()}
    nested = {r.interval: (r.events, list(r.ids))
              for r in merge_partial_histograms(
                  [merge_partial_histograms(parts3[:2]), parts3[2]]).collect()}
    assert merged == direct == nested


def test_top_journeys_orders_within_user(spark):
    from datetime import datetime

    from dump1090_postgis_spark.operators.analytics import top_journeys

    t = lambda m: datetime(2024, 1, 1, 0, m)
    rows = [
        (2, 1, t(1), "click"), (1, 1, t(0), "view"),   # out-of-order input
        (3, 2, t(0), "view"), (4, 2, t(1), "click"),
        (5, 3, t(0), "signup"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    got = {r.path: r.n_users for r in top_journeys(df, max_steps=5).collect()}
    assert got == {"view>click": 2, "signup": 1}


def test_rfm_scores_quintiles_monotone(spark):
    """Higher raw metrics must never get a lower score, and scores
    stay within 1..5."""
    from datetime import datetime, timedelta

    from dump1090_postgis_spark.operators.analytics import rfm_scores

    t0 = datetime(2024, 1, 1)
    rows = []
    eid = 0
    for u in range(10):
        for k in range(u + 1):          # user u has u+1 events
            rows.append((eid, u, t0 + timedelta(days=u, minutes=k), float(u)))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )
    out = sorted(rfm_scores(df).collect(), key=lambda r: r.user_id)
    for a, b in zip(out, out[1:]):
        assert b.f_score >= a.f_score and b.r_score >= a.r_score
        assert b.m_score >= a.m_score
    assert all(1 <= r.f_score <= 5 for r in out)


def test_mad_outliers_flags_planted_point(spark):
    from dump1090_postgis_spark.operators.analytics import mad_outliers

    rows = [(i, "a", 10.0 + (i % 3)) for i in range(20)]
    rows.append((99, "a", 1000.0))           # the outlier
    rows += [(200 + i, "b", 5.0) for i in range(5)]  # constant group: MAD 0
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    out = mad_outliers(df).collect()
    assert [r.event_id for r in out] == [99]
    assert out[0].dev_ratio > 3


def test_pagerank_ppm_matches_python_reference(spark):
    from dump1090_postgis_spark.operators.graph import pagerank_ppm

    edges = [("a", "b", 2.0), ("b", "a", 1.0), ("c", "a", 1.0), ("a", "c", 1.0)]
    df = spark.createDataFrame(edges, "src string, dst string, weight double")
    got = {r.node: r.rank_ppm for r in pagerank_ppm(df, iterations=3).collect()}

    from decimal import ROUND_HALF_UP, Decimal

    def _r(x: float) -> int:
        # Spark F.round is HALF_UP; Python round() is banker's —
        # pin the reference to the engine's rounding rule
        return int(Decimal(repr(x)).quantize(Decimal(1), ROUND_HALF_UP))

    d, ppm = 0.85, 1_000_000
    nodes = ["a", "b", "c"]
    out = {"a": 3.0, "b": 1.0, "c": 1.0}
    r = {n: _r(float(ppm) / 3) for n in nodes}
    base = _r((1.0 - d) * ppm / 3)
    for _ in range(3):
        nxt = {n: base for n in nodes}
        for s, t, w in edges:
            nxt[t] += _r((d * r[s]) * (w / out[s]))
        r = nxt
    assert got == r
    # mass approximately conserved (integer rounding only)
    assert abs(sum(got.values()) - ppm) < 100


def test_pagerank_dangling_node_keeps_base_only(spark):
    from dump1090_postgis_spark.operators.graph import pagerank_ppm

    df = spark.createDataFrame(
        [("a", "sink", 1.0)], "src string, dst string, weight double"
    )
    got = {r.node: r.rank_ppm for r in pagerank_ppm(df, iterations=2).collect()}
    assert got["sink"] > got["a"]  # sink receives, sends nothing
    assert got["a"] == round((1.0 - 0.85) * 1_000_000 / 2)


def test_check_constraints_empty_table_reports_zero(spark):
    """A brand-new empty partition must gate clean (0), not NULL."""
    from dump1090_postgis_spark.operators.quality import check_constraints, not_null

    df = spark.createDataFrame([], "id long")
    (row,) = check_constraints(df, [not_null("id")]).collect()
    assert row.n_violations == 0


def test_sketch_report_keeps_null_key_group(spark):
    from dump1090_postgis_spark.operators.analytics import sketch_accuracy_report

    df = spark.createDataFrame(
        [(None, 1, 1.0), (None, 2, 2.0), ("k", 3, 3.0)],
        "event_type string, user_id long, value double",
    )
    got = {r.event_type: r.n_exact for r in sketch_accuracy_report(df).collect()}
    assert got == {None: 2, "k": 1}


def test_funnel_window_expires_conversion(spark):
    """A step landing outside the window anchored at the FIRST step-1
    event must not count; inside it must."""
    from datetime import datetime, timedelta

    from dump1090_postgis_spark.operators.analytics import funnel_steps

    t0 = datetime(2024, 1, 1)
    rows = [
        # user 1 converts within 60 s
        (1, 1, t0, "view"), (2, 1, t0 + timedelta(seconds=30), "click"),
        # user 2's click is 120 s after their first view
        (3, 2, t0, "view"), (4, 2, t0 + timedelta(seconds=120), "click"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    got = {r.step: r.n_users
           for r in funnel_steps(df, ["view", "click"], within_seconds=60).collect()}
    assert got == {"view": 2, "click": 1}
    unbounded = {r.step: r.n_users
                 for r in funnel_steps(df, ["view", "click"]).collect()}
    assert unbounded == {"view": 2, "click": 2}


def test_sliding_counts_parity_on_negative_epochs(spark):
    """The spill filter's remainder must be the non-negative
    floor-division remainder (pmod): Spark's % is sign-of-dividend,
    which falsely failed the spill test for pre-1970 timestamps and
    dropped boundary-crossing contributors."""
    import datetime

    from dump1090_postgis_spark.operators.peak_hour import sliding_hour_counts

    epoch = datetime.datetime(1970, 1, 1)
    # straddle epoch 0: pre-1970 rows have negative epoch seconds
    secs = [-7200, -3650, -3600, -1800, -5, 0, 5, 1800, 3600, 7200]
    ev = spark.createDataFrame(
        [(epoch + datetime.timedelta(seconds=s),) for s in secs],
        "time timestamp",
    )
    key = lambda r: (str(r.time), r.events)  # noqa: E731
    exact = sorted(map(key, sliding_hour_counts(ev, partitioned=False).collect()))
    part = sorted(map(key, sliding_hour_counts(ev, granularity_s=3600).collect()))
    assert exact == part


def test_events_histogram_string_id_col(spark):
    """id_col is an advertised parameter: the empty-bin ids fallback
    must take the collected array's own type (a hardcoded
    array<bigint> failed analysis for string ids)."""
    import datetime

    from dump1090_postgis_spark.operators.histogram import events_histogram

    ev = spark.createDataFrame(
        [(datetime.datetime(2024, 1, 1, 0, 30), "AAA"),
         (datetime.datetime(2024, 1, 1, 0, 45), "BBB")],
        "ts timestamp_ntz, hexident string",
    )
    out = events_histogram(
        ev, "2024-01-01", "2024-01-01 03:00:00", "hour",
        ts="ts", id_col="hexident",
    ).collect()
    assert out[0].ids == ["AAA", "BBB"]
    assert out[1].events == 0 and out[1].ids == []


def test_profile_and_funnel_survive_hostile_names(spark):
    """stack() built via the Column API: column names with spaces and
    step labels with quotes must not break (or inject into) a parsed
    SQL expression."""
    from dump1090_postgis_spark.operators.analytics import funnel_steps
    from dump1090_postgis_spark.operators.profile import profile_columns

    df = spark.createDataFrame(
        [(1, None), (2, 5)], ["seat count", "fare's value"]
    )
    prof = {r.col_name: r for r in profile_columns(df).collect()}
    assert prof["seat count"].n_nulls == 0
    assert prof["fare's value"].n_nulls == 1

    ev = spark.createDataFrame(
        [(1, "sign up", 1.0), (1, "add'l step", 2.0)],
        "user_id long, event_type string, ts double",
    )
    fun = {r.step: r.n_users for r in
           funnel_steps(ev, ["sign up", "add'l step"]).collect()}
    assert fun == {"sign up": 1, "add'l step": 1}


def test_classify_intention_ground_only_session(spark):
    """A session that starts AND ends on ground never flew: 'unknown',
    not 'enroute' (the old fall-through labeled it in-flight)."""
    from dump1090_postgis_spark.operators.events import classify_intention

    # an all-NULL any_airborne reads as "never seen airborne"
    df = spark.createDataFrame(
        [(1, True, True, None), (2, True, False, None),
         (3, False, True, None), (4, None, None, None),
         (5, False, False, None)],
        "id long, first_onground boolean, last_onground boolean, "
        "any_airborne boolean",
    )
    out = {r.id: r.intention for r in classify_intention(df).collect()}
    assert out == {1: "unknown", 2: "departure", 3: "arrival",
                   4: "unknown", 5: "enroute"}
    # with the airborne-in-between signal (round-10 advisor): a
    # complete gate-to-gate flight follows the reference's
    # first-position-onground rule → departure; taxi-only (never
    # airborne) and signal-absent sessions stay unknown
    df2 = spark.createDataFrame(
        [(1, True, True, True), (2, True, True, False),
         (3, True, True, None), (4, True, False, True),
         (5, None, None, True)],
        "id long, first_onground boolean, last_onground boolean, "
        "any_airborne boolean",
    )
    out2 = {r.id: r.intention for r in classify_intention(df2).collect()}
    assert out2 == {1: "departure", 2: "unknown", 3: "unknown",
                    4: "departure", 5: "unknown"}
