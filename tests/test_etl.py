"""End-to-end batch ETL: a multi-aircraft synthetic capture through
build_tables, then the reference query API over the written and
read-back tables."""

import datetime
from collections import Counter

import pytest
from pyspark.sql import functions as F

from dump1090_postgis_spark.plans import adsb
from dump1090_postgis_spark.plans.etl import build_tables
from dump1090_postgis_spark.sources.dims import nte_airport, nte_runways

# Aircraft 1 (AAA111): MSG1 callsign, descent onto the NTE strip
# heading ~32°, onground flip → landing on runway 03.
# Aircraft 2 (BBB222): first message is MSG1 (not admissible — dropped,
# reference CASE B retries per message) but its MSG3 at 8000 ft IS
# admitted → flight starts there, without the pre-admission callsign.
# Aircraft 3 (CCC333): only message is MSG3 at 35000 ft — fails the
# admission-time altitude filter → never becomes a flight.
CAPTURE = [
    "MSG,3,1,1,AAA111,1,2024/05/01,10:00:00.000,2024/05/01,10:00:00.000,,900,,,47.1417,-1.6198,,,0,,0,0",
    "MSG,1,1,1,AAA111,1,2024/05/01,10:00:01.000,2024/05/01,10:00:01.000,AFR123 ,,,,,,,,0,,0,0",
    "MSG,3,1,1,AAA111,1,2024/05/01,10:00:05.000,2024/05/01,10:00:05.000,,300,,,47.1460,-1.6162,,,0,,0,0",
    "MSG,3,1,1,AAA111,1,2024/05/01,10:00:10.000,2024/05/01,10:00:10.000,,50,,,47.1523,-1.6114,,,0,,0,-1",
    "MSG,1,1,1,BBB222,1,2024/05/01,10:00:02.000,2024/05/01,10:00:02.000,DLH456 ,,,,,,,,0,,0,0",
    "MSG,3,1,1,BBB222,1,2024/05/01,10:00:04.000,2024/05/01,10:00:04.000,,8000,,,47.5000,-1.2000,,,0,,0,0",
    "MSG,3,1,1,CCC333,1,2024/05/01,10:00:03.000,2024/05/01,10:00:03.000,,35000,,,48.0000,-1.0000,,,0,,0,0",
    "not,a,valid,line",
]


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    raw = spark.createDataFrame([(l,) for l in CAPTURE], "value string")
    return build_tables(
        raw, nte_runways(spark), nte_airport(spark),
        output_path=str(tmp_path_factory.mktemp("etl_tables")),
    )


def test_flights_admission_and_filter(tables):
    flights = {r.hexident: r for r in tables["flights"].collect()}
    assert "AAA111" in flights           # admitted (first msg = MSG3 @900ft)
    assert "CCC333" not in flights       # 35000 ft fails admission filter
    f = flights["AAA111"]
    assert f.callsign == "AFR123"
    assert f.intention == "arrival"      # ends onground (STATE-9)
    assert f.n_messages == 4
    # BBB222: MSG1 dropped pre-admission, MSG3 admitted → flight exists
    # starting at the MSG3, with no callsign (reference CASE B retry)
    b = flights["BBB222"]
    assert b.callsign is None
    assert b.first_seen.isoformat() == "2024-05-01T10:00:04"
    assert b.n_messages == 1


def test_positions_table(tables):
    pos = tables["positions"].orderBy("time").collect()
    # AAA111 (id 1) three MSG3s + BBB222 (id 2) one admitted MSG3
    assert [p.flight_id for p in pos] == [1, 2, 1, 1]
    assert pos[0].altitude_m == pytest.approx(900 * 0.3048)
    assert pos[-1].onground is True
    assert [p.id for p in pos] == [1, 2, 3, 4]       # dense deterministic ids


def test_landing_attributed_to_runway_03(tables):
    landings = tables["landings"].collect()
    assert len(landings) == 1
    assert landings[0].runway == "03"
    assert landings[0].time == datetime.datetime(2024, 5, 1, 10, 0, 10)
    assert tables["takeoffs"].count() == 0


def test_query_api_over_built_tables(tables, spark):
    # the reference's user path: landings_on + histogram + flight_path
    out = adsb.landings_on(tables["landings"], datetime.date(2024, 5, 1)).collect()
    assert len(out) == 1
    hist = adsb.landings_histogram(
        tables["landings"],
        datetime.datetime(2024, 5, 1, 9, 0),
        datetime.datetime(2024, 5, 1, 12, 0),
        "hour",
        tz=None,
    ).collect()
    assert [r.events for r in hist] == [0, 1, 0, 0]
    paths = adsb.flight_path(tables["positions"]).collect()
    assert len(paths) == 2 and all(p.wkt.startswith("LINESTRING") for p in paths)


def test_rerun_is_deterministic(spark, tables, tmp_path):
    raw = spark.createDataFrame([(l,) for l in CAPTURE], "value string")
    again = build_tables(
        raw, nte_runways(spark), nte_airport(spark),
        output_path=str(tmp_path / "etl_again"),
    )
    a = sorted(map(tuple, tables["positions"].collect()))
    b = sorted(map(tuple, again["positions"].collect()))
    assert a == b


def test_output_path_mode_releases_all_caches(spark, tmp_path):
    """build_tables writes all four tables and unpersists every
    internal layout pin — nothing stays cached (VERDICT r1: lingering
    DISK/MEMORY pins compete with shuffle memory at scale)."""
    baseline = spark.sparkContext._jsc.getPersistentRDDs().size()
    raw = spark.createDataFrame([(l,) for l in CAPTURE], "value string")
    out = build_tables(
        raw, nte_runways(spark), nte_airport(spark),
        output_path=str(tmp_path / "etl_out"),
    )
    assert out["flights"].count() == 2
    assert out["positions"].count() == 4
    # no NEW pins survive the call
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == baseline
    # read-back tables are plain parquet scans — re-collect is stable
    assert sorted(r.id for r in out["positions"].collect()) == [1, 2, 3, 4]


def test_output_path_partition_pruning(spark, tmp_path):
    """Engine-written time tables are DATE-PARTITIONED (the Spark
    analog of create_public_schema.sql:759-811's time indexes +
    CLUSTER): FLT-5/6 over the engine's own output must prune
    PARTITIONS (PartitionFilters on _dt in the scan), not just push
    row-group filters — the first lever a 100 TB user reaches for."""
    import re

    raw = spark.createDataFrame([(l,) for l in CAPTURE], "value string")
    out = build_tables(
        raw, nte_runways(spark), nte_airport(spark),
        output_path=str(tmp_path / "etl_part"),
    )
    for name in ("positions", "landings", "takeoffs"):
        assert "_dt" in out[name].columns

    day = datetime.date(2024, 5, 1)
    plan = (
        adsb.landings_on(out["landings"], day)
        ._jdf.queryExecution().executedPlan().toString()
    )
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "_dt" in m.group(1), plan
    # rows still correct through the partitioned layout
    assert adsb.landings_on(out["landings"], day).count() == 1
    assert adsb.landings_on(out["landings"], datetime.date(2024, 5, 2)).count() == 0

    # FLT-6 local-date range prunes too (±1-day UTC bracket)
    plan6 = (
        adsb.landings_fromto(out["landings"], day, datetime.date(2024, 5, 2))
        ._jdf.queryExecution().executedPlan().toString()
    )
    m6 = re.search(r"PartitionFilters: \[([^\]]*)\]", plan6)
    assert m6 and "_dt" in m6.group(1), plan6
    assert adsb.landings_fromto(
        out["landings"], day, datetime.date(2024, 5, 2)
    ).count() == 1


# Two flights whose first_seen order (BBB001 first) disagrees with their
# hexident order, both emitting a position at 10:00:05, a landing at
# 10:00:10 and a takeoff at 10:00:20 — every tie on `time` must break
# by flight_id, i.e. by first_seen, not by hexident.
TIED_CAPTURE = [
    f"MSG,3,1,1,{hexident},1,2024/05/01,{t},2024/05/01,{t},,{alt},,,47.1,-1.6,,,0,,0,{gnd}"
    for hexident, first in (("BBB001", "10:00:00.000"), ("AAA002", "10:00:01.000"))
    for t, alt, gnd in (
        (first, 900, 0),
        ("10:00:05.000", 300, 0),
        ("10:00:10.000", 50, -1),
        ("10:00:20.000", 50, 0),
    )
]


def test_ids_rank_by_time_then_flight_id(spark, tmp_path):
    """Positions, landings and takeoffs are numbered without waiting for
    the flight ids (by time, admission time, hexident, session); their
    ids must still be exactly 1..n ranked by (time, flight_id)."""
    raw = spark.createDataFrame([(l,) for l in TIED_CAPTURE], "value string")
    t = build_tables(raw, output_path=str(tmp_path / "etl_tied"))
    fid = {r.hexident: r.id for r in t["flights"].collect()}
    assert fid == {"BBB001": 1, "AAA002": 2}
    for name, n in (("positions", 8), ("landings", 2), ("takeoffs", 2)):
        rows = t[name].collect()
        assert len(rows) == n, name
        by_id = [(r.time, r.flight_id) for r in sorted(rows, key=lambda r: r.id)]
        assert by_id == sorted(by_id), name
        assert sorted(r.id for r in rows) == list(range(1, n + 1)), name


def _jobs(sc) -> dict[int, str | None]:
    """Description of every job in the status store, by job id."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(
        sc._jsc.sc().statusStore().jobsList(None)
    )
    return {
        j.jobId(): j.description().get() if j.description().isDefined() else None
        for j in jobs
    }


def _descriptions_after(sc, last: int) -> list[str | None]:
    return [d for i, d in _jobs(sc).items() if i > last]


def test_output_path_jobs_are_named_per_scope(spark, tmp_path):
    """Every job of a build is named after the build, its pin load,
    numbering task or write, and the scoped operator inside it, and
    each scope runs an exact number of jobs.  The session pin is loaded
    (6 jobs) before the numbering passes start, so each pass runs its
    own 5 and none materializes the pin again.  One count depends on
    timing: this capture has no takeoffs, and in ``write:takeoffs`` AQE
    may drop the empty join as soon as the takeoffs side's shuffle
    stage finishes, or first broadcast the flight-id side (one job) at
    runtime."""
    sc = spark.sparkContext
    raw = spark.createDataFrame([(l,) for l in CAPTURE], "value string")
    last = max(_jobs(sc), default=-1)
    build_tables(
        raw, nte_runways(spark), nte_airport(spark),
        output_path=str(tmp_path / "etl_named"),
    )
    descs = _descriptions_after(sc, last)
    assert descs and all("plans.etl.build_tables" in (d or "") for d in descs)
    per_scope = Counter(d.split("plans.etl.build_tables / ", 1)[1] for d in descs)
    dense = " / operators.ids.with_dense_ids"
    exact = {
        "pin:sessions": 6,
        **{f"number:{t}{dense}": 5 for t in ("flights", "positions", "events")},
        "write:flights": 4, "write:positions": 7, "write:landings": 7,
    }
    assert set(per_scope) == set(exact) | {"write:takeoffs"}
    assert {s: per_scope[s] for s in exact} == exact, per_scope
    assert per_scope["write:takeoffs"] in (5, 6)


def test_adsb_build_jobs_carry_the_function_name(spark, tables, monkeypatch):
    """A job a plans.adsb call runs while building its plan is named
    after the call, and the caller's description comes back after it.
    The calls build lazily today, so the test plants an eager count in
    the FLT-5 helper under ``landings_on``."""
    sc = spark.sparkContext
    real = adsb._on_day

    def eager(events, day, ts="time"):
        events.count()
        return real(events, day, ts)

    monkeypatch.setattr(adsb, "_on_day", eager)
    caller = sc.getLocalProperty("spark.job.description")
    last = max(_jobs(sc), default=-1)
    adsb.landings_on(tables["landings"], datetime.date(2024, 5, 1))
    descs = _descriptions_after(sc, last)
    assert descs and all(d.endswith("plans.adsb.landings_on") for d in descs)
    assert sc.getLocalProperty("spark.job.description") == caller


def test_output_path_jobs_stay_in_callers_job_group(spark, tmp_path):
    """The concurrent numbering passes and writes run on pool threads;
    every job they submit must still carry the caller's job group, so
    cancelJobGroup and job descriptions reach the whole build."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    raw = spark.createDataFrame([(l,) for l in CAPTURE], "value string")
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("etl-build", "build_tables under a job group")
    try:
        build_tables(
            raw, nte_runways(spark), nte_airport(spark),
            output_path=str(tmp_path / "etl_grouped"),
        )
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    assert tracker.getJobIdsForGroup("etl-build")
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped_before == set()
    jobs = _jobs(sc)
    assert all(
        jobs[i].startswith("build_tables under a job group / plans.etl.build_tables")
        for i in tracker.getJobIdsForGroup("etl-build")
    )


def test_failed_write_releases_caches(spark, tmp_path, monkeypatch):
    """A write that raises must surface its error AND leave no pin
    behind: the caches are released after every concurrent write has
    finished, on failure as on success."""
    from dump1090_postgis_spark.operators import storage

    class WriteFailed(RuntimeError):
        pass

    real = storage.write_time_partitioned

    def failing(df, path, **kwargs):
        if path.endswith("/landings"):
            raise WriteFailed(path)
        return real(df, path, **kwargs)

    monkeypatch.setattr(storage, "write_time_partitioned", failing)
    baseline = spark.sparkContext._jsc.getPersistentRDDs().size()
    raw = spark.createDataFrame([(l,) for l in CAPTURE], "value string")
    with pytest.raises(WriteFailed):
        build_tables(
            raw, nte_runways(spark), nte_airport(spark),
            output_path=str(tmp_path / "etl_fail"),
        )
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == baseline
