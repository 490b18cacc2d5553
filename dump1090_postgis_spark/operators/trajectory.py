"""Trajectory (flight path) assembly + GeoJSON export (SURVEY §2.4
AGG-5, §2.3 JOIN-1, §2.1 SNK-4; reference
create_public_schema.sql:207-236 `flight_path`/`flight_path_geojson`,
:243-257 `flight_paths(bigint[])`).

Reference shape: per flight, `st_makeline(st_force2d(coordinates)
ORDER BY time)` — an ordered 2D linestring (altitude dropped).  The
reference's materialized views call flight_path(id) per row — a
nested-loop rescan of positions per flight; here the whole thing is
ONE groupBy over positions (SURVEY §3.3), the single-pass plan you
want at scale: shuffle positions once on flight_id (or reuse an
existing flight_id partitioning), sort each group in memory,
collect_list.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.geo import linestring_geojson


def flight_paths(
    positions: DataFrame, flight_ids: Sequence[int] | None = None
) -> DataFrame:
    """AGG-5: per flight_id, the time-ordered 2D path of the positions
    table as ``path`` array<struct<lon,lat>>.

    `flight_ids` mirrors `flight_paths(bigint[])` — a pushed-down IN
    filter instead of the reference's per-id loop (the filter reaches
    the parquet scan; ids are pruned before the shuffle).
    """
    df = positions
    if flight_ids is not None:
        df = df.filter(F.col("flight_id").isin(list(flight_ids)))
    pts = F.array_sort(
        F.collect_list(F.struct(F.col("time").alias("t"),
                                F.col("longitude").alias("lon"),
                                F.col("latitude").alias("lat")))
    )
    # st_force2d: drop time+altitude after ordering
    path = F.transform(pts, lambda p: F.struct(p["lon"].alias("lon"),
                                               p["lat"].alias("lat")))
    return df.groupBy("flight_id").agg(path.alias("path"))


def flight_paths_wkt(paths: DataFrame) -> DataFrame:
    """LINESTRING WKT rendering of an assembled path (readable/portable
    parity with st_makeline's WKT form)."""
    pt = lambda p: F.concat_ws(" ", p["lon"].cast("string"), p["lat"].cast("string"))
    return paths.withColumn(
        "wkt",
        F.concat(
            F.lit("LINESTRING ("),
            F.array_join(F.transform(F.col("path"), pt), ", "),
            F.lit(")"),
        ),
    )


def flight_paths_geojson(paths: DataFrame) -> DataFrame:
    """SNK-4: GeoJSON LineString per flight, 6 decimals
    (flight_path_geojson, create_public_schema.sql:225-236)."""
    return paths.withColumn("geojson", linestring_geojson(F.col("path")))
