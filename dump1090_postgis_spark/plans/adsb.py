"""The reference's public query API, one Python function per SQL
function (SURVEY §2.9; create_public_schema.sql:182-532,
create_graphql_functions.sql:30-104, create_materialized_views.sql).

Each function takes DataFrames (flights/positions/landings/takeoffs/
dims — wherever the engine persisted them) plus the original SQL
parameters, and returns the result DataFrame with the same columns the
Postgres function returns.  A user of the reference maps:

    SELECT * FROM landings_on('2019-10-20')
      → adsb.landings_on(landings, date(2019,10,20))
    SELECT * FROM events_histogram(s, e, 'hour')
      → adsb.events_histogram_all(landings, takeoffs, s, e, 'hour')
    SELECT flight_path(42) → adsb.flight_path(positions, [42])
"""

from __future__ import annotations

import datetime
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.timeutil import to_local
from ..operators.details import event_details
from ..operators.histogram import events_histogram as _histogram
from ..operators.peak_hour import peak_hour as _peak_hour
from ..operators.peak_hour import union_events
from ..operators.trajectory import (
    flight_paths,
    flight_paths_geojson,
    flight_paths_wkt,
)
from ..session import job_scope

__all__ = [
    "landings_on",
    "takeoffs_on",
    "landings_fromto",
    "takeoffs_fromto",
    "landings_histogram",
    "takeoffs_histogram",
    "events_histogram_all",
    "peak_hour_landings",
    "peak_hour_takeoffs",
    "peak_hour_all",
    "flight_path",
    "flight_path_geojson",
    "landings_on_details",
    "takeoffs_on_details",
    "airports_geojson",
    "runways_geojson",
    "range_rings_geojson",
    "takeoff_paths_period",
]


def _on_day(events: DataFrame, day: datetime.date, ts: str = "time") -> DataFrame:
    """FLT-5 (create_public_schema.sql:331-339): d <= time < d+1,
    time ASC.

    On a date-partitioned frame (engine outputs carry the `_dt`
    directory column — operators/storage.py) the equivalent `_dt = d`
    predicate is added so the scan PRUNES PARTITIONS, not just row
    groups; the time predicate stays for exactness."""
    d = F.lit(day).cast("date")
    pred = (F.col(ts) >= d.cast("timestamp_ntz")) & (
        F.col(ts) < F.date_add(d, 1).cast("timestamp_ntz")
    )
    if "_dt" in events.columns:
        pred = pred & (F.col("_dt") == d)
    return events.filter(pred).orderBy(ts)


def landings_on(landings: DataFrame, day: datetime.date) -> DataFrame:
    return _on_day(landings, day)


def takeoffs_on(takeoffs: DataFrame, day: datetime.date) -> DataFrame:
    return _on_day(takeoffs, day)


def _fromto(events: DataFrame, from_, to_, tz: str = "Europe/Paris",
            ts: str = "time") -> DataFrame:
    """FLT-6 (create_materialized_views.sql:3-46): local-date range.

    On a date-partitioned frame the UTC `_dt` partition column brackets
    the local-date window by ±1 day (any tz offset < 24 h), so the
    scan prunes to the range's directories; the exact local-date
    predicate then trims the edges."""
    local = F.to_date(to_local(F.col(ts), tz))
    pred = (local >= F.lit(from_).cast("date")) & (local < F.lit(to_).cast("date"))
    if "_dt" in events.columns:
        pred = pred & (F.col("_dt") >= F.date_sub(F.lit(from_).cast("date"), 1)) & (
            F.col("_dt") <= F.lit(to_).cast("date")
        )
    return events.filter(pred).orderBy(ts)


def landings_fromto(landings: DataFrame, from_, to_) -> DataFrame:
    return _fromto(landings, from_, to_)


def takeoffs_fromto(takeoffs: DataFrame, from_, to_) -> DataFrame:
    return _fromto(takeoffs, from_, to_)


def landings_histogram(landings: DataFrame, starts, ends, bin_: str = "hour",
                       tz: str | None = "Europe/Paris") -> DataFrame:
    """AGG-1 (create_public_schema.sql:286-307)."""
    return _histogram(landings, starts, ends, bin_, tz=tz)


def takeoffs_histogram(takeoffs: DataFrame, starts, ends, bin_: str = "hour",
                       tz: str | None = "Europe/Paris") -> DataFrame:
    return _histogram(takeoffs, starts, ends, bin_, tz=tz)


def events_histogram_all(landings: DataFrame, takeoffs: DataFrame, starts, ends,
                         bin_: str = "hour", tz: str | None = None) -> DataFrame:
    """AGG-1 over landings ∪ takeoffs (create_public_schema.sql:182-200).
    SQL UNION semantics → distinct (SET-1)."""
    return _histogram(union_events(landings, takeoffs), starts, ends, bin_, tz=tz)


def peak_hour_landings(landings: DataFrame, tz: str = "Europe/Paris") -> DataFrame:
    """AGG-2/3/4 (create_public_schema.sql:398-419)."""
    return _peak_hour(landings, tz=tz)


def peak_hour_takeoffs(takeoffs: DataFrame, tz: str = "Europe/Paris") -> DataFrame:
    return _peak_hour(takeoffs, tz=tz)


def peak_hour_all(landings: DataFrame, takeoffs: DataFrame,
                  tz: str = "Europe/Paris") -> DataFrame:
    """create_public_schema.sql:344-372 — UNION (dedup) then slide."""
    return _peak_hour(union_events(landings, takeoffs), tz=tz)


def flight_path(positions: DataFrame,
                flight_ids: Sequence[int] | None = None) -> DataFrame:
    """AGG-5 flight_path / flight_paths(bigint[])
    (create_public_schema.sql:207-218,243-257) — one groupBy for any
    number of ids (the reference loops per id)."""
    return flight_paths_wkt(flight_paths(positions, flight_ids))


def flight_path_geojson(positions: DataFrame,
                        flight_ids: Sequence[int] | None = None) -> DataFrame:
    """SNK-4 (create_public_schema.sql:225-236)."""
    return flight_paths_geojson(flight_paths(positions, flight_ids))


def landings_on_details(landings: DataFrame, flights: DataFrame,
                        airlines: DataFrame, countries: DataFrame,
                        day: datetime.date) -> DataFrame:
    """JOIN-2 (create_graphql_functions.sql:30-66)."""
    return event_details(_on_day(landings, day), flights, airlines, countries)


def takeoffs_on_details(takeoffs: DataFrame, flights: DataFrame,
                        airlines: DataFrame, countries: DataFrame,
                        day: datetime.date) -> DataFrame:
    """JOIN-2 (create_graphql_functions.sql:69-104)."""
    return event_details(_on_day(takeoffs, day), flights, airlines, countries)


def airports_geojson(airports: DataFrame) -> DataFrame:
    """meta.airports_geojson view (create_meta_schema.sql:108-119):
    airport descriptors with bbox Polygon + latlon Point as GeoJSON
    (ST_AsGeoJSON(geom, 6))."""
    from ..functions.geo import point_geojson, polygon_geojson

    return airports.select(
        "icao", "iata", "name", "city", "altitude", "country", "locale",
        "timezone",
        polygon_geojson(F.col("bbox"), 6).alias("bbox"),
        point_geojson(F.col("lon"), F.col("lat"), 6).alias("latlon"),
    )


def runways_geojson(runways: DataFrame) -> DataFrame:
    """meta.runways_geojson view (create_meta_schema.sql:191-198)."""
    from ..functions.geo import polygon_geojson

    return runways.select(
        "id", "airport_icao", "name", "direction", "length",
        polygon_geojson(F.col("polygon"), 6).alias("geom"),
    )


def range_rings_geojson(rings: DataFrame) -> DataFrame:
    """meta.range_rings_geojson view (create_meta_schema.sql:159-164):
    ST_AsGeoJSON(geom, 6, 2) — 6 decimals, short-CRS option."""
    from ..functions.geo import multilinestring_geojson

    return rings.select(
        "id", "radius", "icao",
        multilinestring_geojson(F.col("geom"), 6, crs=True).alias("geom"),
    )


def takeoff_paths_period(takeoffs: DataFrame, positions: DataFrame,
                         from_, to_) -> DataFrame:
    """Materialized-view refresh job body
    (create_materialized_views.sql:51-76): takeoffs in period ⋈
    per-flight paths, DISTINCT (AGG-7) — the reference's per-row
    nested-loop flight_path() inverted into one groupBy (SURVEY §3.3)."""
    sel = _fromto(takeoffs, from_, to_)
    paths = flight_paths_wkt(flight_paths(positions))
    return (
        sel.join(paths, "flight_id")
        .select("flight_id", "time", "runway", "wkt")
        .dropDuplicates()
    )


# Jobs a public call runs while it builds its plan are named
# ``plans.adsb.<name>`` (session.job_scope); the caller's action on the
# returned frame keeps the caller's own name.
for _name in __all__:
    globals()[_name] = job_scope(f"plans.adsb.{_name}")(globals()[_name])
del _name
