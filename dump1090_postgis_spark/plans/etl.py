"""Batch ETL assembly: the reference's whole ingest pipeline
(SURVEY §3.1) as one deterministic batch job.

raw SBS-1 lines
  → SRC-3 gate + PRJ-1..5 parse/normalize
  → FLT-3 field dispatch
  → STATE-1 batch sessionization (gap > 300 s per hexident)
  → FLT-1/FLT-2 admission (a session becomes a flight at its first
    MSG2, or MSG3 with an altitude inside the admission band —
    flights.py:92-108, run.py:28 wires below=10000)
  → AGG-6 flight summaries (the `flights` table)
  → FLT-4 position validity → the `positions` table (PRJ-5 meters)
  → STATE-3 edges + STATE-4 debounce + PRJ-7 interpolated track
  → JOIN-5 runway attribution
  → the `landings` / `takeoffs` tables
  → each table written as parquet under the caller's ``output_path``
    and read back (operators/storage.py layout)

Surrogate ids are dense, deterministic, and assigned fully in
parallel (operators.ids two-pass range-partition scheme) following the
natural ordering — the reference's sequences are non-deterministic
across runs, which its own oracle problem notes (SURVEY §7
"Non-deterministic ids").

Concurrency: the three numbering passes (flights; positions; landings
and takeoffs together) are independent Spark jobs, so they run at the
same time on a small thread pool, and so do the four table writes.
Positions and events do not wait for the flight ids: they are numbered
by (time, _adm_ts, hexident, session_id), which ranks rows exactly as
(time, flight_id) does — see ``build_tables``.  Every pool thread
carries the caller's local properties (job group, job description,
scheduler pool) through ``pyspark.util.inheritable_thread_target``, so
``cancelJobGroup`` still reaches every job of the build.

Job names (``session.job_scope``): every job of the build is described
``plans.etl.build_tables / <task>``, where the task is
``pin:sessions`` (loading the session stream's pin),
``number:flights|positions|events`` or
``write:flights|positions|landings|takeoffs``, plus the scoped
operator inside it when there is one.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel
from pyspark.util import inheritable_thread_target

from ..functions.conversions import interpolated_track
from ..operators import parse
from ..operators.attribution import attribute_runway
from ..operators.events import (
    classify_intention,
    debounce_events,
    detect_onground_edges,
)
from ..operators.ids import release_caches, with_dense_ids
from ..operators.sessionize import SESSION_MAX_AGE_S, flight_summaries, sessionize
from ..session import job_scope


def _run_all(spark: SparkSession, kind: str, tasks: dict[str, Callable]) -> dict:
    """Run every task on its own thread with the caller's Spark local
    properties, its jobs named ``<kind>:<name>``, wait for ALL of them,
    then return their results by name — or raise the first failure in
    ``tasks`` order.  Waiting for every task before raising keeps a
    failing task from leaving its siblings' jobs running past the
    caller's cleanup."""
    with ThreadPoolExecutor(max_workers=len(tasks)) as pool:
        futs = {
            name: pool.submit(
                inheritable_thread_target(spark)(job_scope(f"{kind}:{name}")(fn))
            )
            for name, fn in tasks.items()
        }
    return {name: fut.result() for name, fut in futs.items()}


@job_scope("plans.etl.build_tables")
def build_tables(
    raw_lines: DataFrame,
    runways: DataFrame | None = None,
    airport: DataFrame | None = None,
    altitude_below: float = parse.ADMISSION_ALT_BELOW,
    session_gap_s: int = SESSION_MAX_AGE_S,
    *,
    output_path: str,
) -> dict[str, DataFrame]:
    """Run the full pipeline and write its four tables, 'flights',
    'positions', 'landings' and 'takeoffs', with the reference's table
    shapes (FIXTURES.md §3) as parquet under ``{output_path}/{name}``;
    return their read-backs by name.

    Layout (operators/storage.py): the time tables are date-partitioned
    with a ``_dt`` directory column, positions clustered by flight_id;
    the read-back frames carry ``_dt`` and plans/adsb.py's FLT-5/6
    helpers prune on it.

    Ids: flights rank by (first_seen, hexident, session_id); positions,
    landings and takeoffs each rank by (time, flight_id), landings and
    takeoffs in separate 1..n spaces numbered in one pass.  The session
    stream keeps its admission time ``_adm_ts``, which equals the
    flight's ``first_seen`` (admission drops every earlier message), so
    a row's (_adm_ts, hexident, session_id) sorts exactly like its
    flight_id.  Positions and events are therefore numbered by
    (time, _adm_ts, hexident, session_id) concurrently with the flights
    and get ``flight_id`` joined on afterwards.

    Every internal pin (the session stream and each dense-id layout,
    DISK_ONLY) is released before the call returns, on success and on
    error alike.  On error (a numbering pass or a write raises) the
    call first waits until every concurrent pass or write has finished,
    then re-raises the first error.
    """
    pins: list[DataFrame] = []
    try:
        tables = _numbered_tables(
            raw_lines, runways, airport, altitude_below, session_gap_s, pins
        )
        return _run_all(
            raw_lines.sparkSession,
            "write",
            {
                name: partial(_write_table, name, df, f"{output_path}/{name}")
                for name, df in tables.items()
            },
        )
    finally:
        release_caches(pins)


def _numbered_tables(
    raw_lines: DataFrame,
    runways: DataFrame | None,
    airport: DataFrame | None,
    altitude_below: float,
    session_gap_s: int,
    pins: list[DataFrame],
) -> dict[str, DataFrame]:
    """The four tables as lazy frames over the session pin and the
    three dense-id layout pins (all appended to ``pins``)."""
    msgs = parse.parse_sbs1_lines(raw_lines)
    msgs = parse.dispatch_fields(msgs)
    msgs = parse.with_altitude_m(msgs)

    # FLT-1/FLT-2 admission (flights.py:86-108 CASE B): the altitude
    # filter applies ONLY to the MSG3 admission test of an unknown
    # aircraft — post-admission messages are never filtered.  The
    # reference re-tries admission on every message, so a flight
    # starts at the session's FIRST ADMISSIBLE message (MSG2, or MSG3
    # with altitude present — the reference filter is strict — and in
    # band) and everything before it is dropped; gap sessionization
    # over ALL messages reproduces the pool's lifetime exactly
    # (pre-admission rows only ever glue boundaries, which matches the
    # reference's last_seen updates / unknown-aircraft drops in every
    # constructible sequence).
    admissible = (F.col("transmission_type") == 2) | (
        (F.col("transmission_type") == 3)
        & F.col("altitude").isNotNull()
        & (F.col("altitude") > F.lit(parse.ADMISSION_ALT_ABOVE))
        & (F.col("altitude") < F.lit(altitude_below))
    )

    # The session stream fans out into four output tables — persist it
    # so parse+sessionize (one scan + one shuffle) run once, not per
    # table.
    raw_sess = sessionize(msgs, gap_s=session_gap_s)
    key = ["hexident", "session_id"]
    admission_ts = (
        raw_sess.filter(admissible)
        .groupBy(*key)
        .agg(F.min("gen_date_time").alias("_adm_ts"))
    )
    # `_adm_ts` stays on: it is the flight's first_seen, the leading
    # key of the flight-id order (see build_tables).
    sess = (
        raw_sess.join(admission_ts, key, "inner")  # drops never-admitted
        .filter(F.col("gen_date_time") >= F.col("_adm_ts"))
        .persist(StorageLevel.DISK_ONLY)
    )
    pins.append(sess)
    # Load the pin before the numbering passes start: a pass whose
    # query starts before the pin is loaded materializes it again
    # (AQE's table-cache query stage), once per such pass.
    with job_scope("pin:sessions"):
        sess.count()
    # positions and events rank by (time, flight_id) without the ids
    by_time_then_flight = ["time", "_adm_ts", *key]

    def number_flights() -> DataFrame:
        # One groupBy produces the flight summaries AND the intention
        # inputs (no separate aggregations over the same key).
        admitted = flight_summaries(
            sess,
            extra_aggs=[
                F.min_by(
                    F.col("onground"),
                    F.when(F.col("onground").isNotNull(), F.col("gen_date_time")),
                ).alias("first_onground"),
                # airborne-in-between signal: splits a complete
                # gate-to-gate flight (→ departure, the reference's
                # first-position-onground rule) from a taxi-only
                # session (→ unknown) — endpoint flags alone cannot
                # tell them apart.  bool_or skips NULLs; all-NULL
                # coalesces to "never seen airborne" inside
                # classify_intention.
                F.bool_or(F.col("onground") == F.lit(False)).alias(
                    "any_airborne"
                ),
            ],
        )
        return with_dense_ids(
            admitted, ["first_seen", *key], "id", caches=pins
        )

    def number_positions() -> DataFrame:
        # positions table (FLT-4 validity, meters altitude)
        positions = parse.position_validity(sess).select(
            *key, "_adm_ts",
            F.col("gen_date_time").alias("time"),
            "longitude", "latitude", "altitude_m",
            F.col("verticalrate").cast("short").alias("verticalrate"),
            F.col("track").cast("short").alias("track"),
            "onground",
        )
        return with_dense_ids(positions, by_time_then_flight, "id", caches=pins)

    def number_events() -> DataFrame:
        # Events fire ONLY from valid-position MSG2/MSG3 rows — the
        # reference's update_onground is called solely from the
        # append-position branches (models.py:196-215); onground
        # carried by MSG1/4/8 updates state silently, never events.
        # PRJ-7 heading is therefore computed over consecutive
        # POSITION rows, matching `interpolate_track(positions[-2:])`
        # (models.py:134-140).
        tracked = interpolated_track(parse.position_validity(sess))
        edges = debounce_events(detect_onground_edges(tracked))
        if runways is not None:
            edges = attribute_runway(edges, runways, airport)
        else:
            edges = edges.withColumn("runway", F.lit("UNK"))
        events = edges.select(
            *key, "_adm_ts", "event_type",
            F.col("gen_date_time").alias("time"),
            "runway",
        )
        # Landings and takeoffs are numbered INDEPENDENTLY — the
        # reference draws from separate per-table sequences
        # (landings_id_seq / takeoffs_id_seq,
        # create_public_schema.sql:606-683) — so the ids restart per
        # event_type, in one pass over the attributed edges.
        return with_dense_ids(
            events, by_time_then_flight, "id", caches=pins,
            group_col="event_type",
        )

    numbered = _run_all(
        sess.sparkSession,
        "number",
        {
            "flights": number_flights,
            "positions": number_positions,
            "events": number_events,
        },
    )
    flights = numbered["flights"]
    fid = flights.select(*key, F.col("id").alias("flight_id"))
    # every position and event belongs to an admitted session, and
    # every admitted session is a flight: the inner joins drop nothing
    positions = numbered["positions"].join(fid, key).select(
        "id", "flight_id", "time", "longitude", "latitude",
        "altitude_m", "verticalrate", "track", "onground",
    )
    events = numbered["events"].join(fid, key)

    def event_table(kind: str) -> DataFrame:
        return events.filter(F.col("event_type") == kind).select(
            "id", "flight_id", "time", "runway"
        )

    return {
        "flights": classify_intention(flights).select(
            "id", "hexident",
            F.col("last_callsign").alias("callsign"),
            "first_seen", "last_seen", "intention", "n_messages",
        ),
        "positions": positions,
        "landings": event_table("landing"),
        "takeoffs": event_table("takeoff"),
    }


def _write_table(name: str, df: DataFrame, path: str) -> DataFrame:
    """Write one output table to ``path``; return its parquet read-back."""
    from ..operators.storage import write_time_partitioned

    spark = df.sparkSession
    if name == "flights":
        df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)
    # The Spark analog of the reference's physical schema
    # (create_public_schema.sql:759-811 btree-on-time indexes + CLUSTER
    # ON idx_positions_flight_id): time tables are date-partitioned so
    # FLT-5/6 predicates prune whole directories, positions
    # additionally clustered by flight_id so trajectory assembly reads
    # co-located, pre-sorted keys.  Read-back frames therefore carry
    # the `_dt` partition column (adsb.py's date helpers use it).
    write_time_partitioned(
        df, path, ts="time",
        cluster_key="flight_id" if name == "positions" else None,
    )
    # explicit schema: an EMPTY partitioned write leaves no data files
    # to infer from (zero-takeoff captures)
    schema = T.StructType(df.schema.fields + [T.StructField("_dt", T.DateType())])
    return spark.read.schema(schema).parquet(path)
