"""Geometry without PostGIS (SURVEY §2.3 JOIN-5, §2.1 SNK-4).

The reference uses Shapely `Polygon.contains(Point)` for runway/airport
bbox containment (airports.py:44-49,83-88) and PostGIS ST_AsGeoJSON for
export.  Here:

- a point is a pair of double columns (lon, lat);
- a polygon is an `array<struct<lon:double,lat:double>>` column
  (closed or open ring — normalized internally);
- containment is an even-odd ray-casting expression built from
  `F.aggregate` over the vertex array — pure Catalyst expressions,
  whole-stage-codegen'd, broadcast-join friendly (no UDF, no Python);
- GeoJSON is assembled with string/JSON built-ins.

Ray-casting matches Shapely's even-odd semantics for simple polygons;
boundary points are implementation-defined in both (the reference's
own tests only exercise strictly-inside / strictly-outside points).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def close_ring(poly: Column) -> Column:
    """Ensure the ring is closed (first vertex == last); append the
    first vertex if not."""
    first = F.element_at(poly, 1)
    last = F.element_at(poly, -1)
    return F.when(
        (first["lon"] == last["lon"]) & (first["lat"] == last["lat"]), poly
    ).otherwise(F.concat(poly, F.array(first)))


def point_in_polygon(lon: Column, lat: Column, poly: Column) -> Column:
    """Even-odd ray casting: count edges crossed by the horizontal ray
    from (lon, lat) to +inf.  O(vertices) per row; runway/airport rings
    have ≤8 vertices (airports.py:129-153), so this is a handful of
    codegen'd arithmetic ops per (point, polygon) pair.
    """
    ring = close_ring(poly)
    n_edges = F.size(ring) - 1
    idx = F.sequence(F.lit(1), n_edges)  # element_at is 1-based

    def crosses(acc: Column, i: Column) -> Column:
        a = F.element_at(ring, i)
        b = F.element_at(ring, i + 1)
        straddles = (a["lat"] > lat) != (b["lat"] > lat)
        # x of the edge at the ray's latitude
        x_at = (b["lon"] - a["lon"]) * (lat - a["lat"]) / (b["lat"] - a["lat"]) + a["lon"]
        return acc + F.when(straddles & (lon < x_at), 1).otherwise(0)

    crossings = F.aggregate(idx, F.lit(0), crosses)
    return F.pmod(crossings, F.lit(2)) == 1


#: Edge-unroll budget for :func:`pip_unrolled_sql` — covers every ring
#: the reference produces (runway quads and airport bboxes, ≤8
#: vertices, airports.py:129-153); the grid attribution tier sends
#: rings past it per row to the higher-order :func:`point_in_polygon`,
#: so the bound affects speed, never values.
PIP_UNROLL_EDGES = 8


def sql_ident(name: str) -> str:
    """Backtick-quote a column name for splicing into SQL text
    (reserved words, dashes, spaces, embedded backticks all survive —
    the `sources/dims.literal_dim` advisor lesson)."""
    return "`" + name.replace("`", "``") + "`"


def pip_unrolled_sql(lon: str, lat: str, poly: str) -> str:
    """:func:`point_in_polygon` as ONE SQL text fragment with the edge
    loop UNROLLED over literal indices — the round-13 hot-path form
    for per-event containment at scale.  ``lon``/``lat``/``poly`` are
    SQL sub-expressions (quote plain names with :func:`sql_ident`).

    No size gate and no higher-order fallback: correct exactly when
    the ring has at most ``PIP_UNROLL_EDGES`` vertices — callers must
    guarantee or gate that themselves (the grid attribution tier
    hoists the gate into its cell-level gate so the fragment is not
    duplicated per candidate).  A NULL polygon yields FALSE here (each
    edge term nulls out to 0) where the higher-order form yields NULL
    — identical endpoints for predicate consumers (a filtered element
    is dropped either way); don't use this fragment where the
    NULL-vs-FALSE distinction is observable.

    Two costs motivated the text form over Column-API equivalents:

    - **Per-row (execution).** The higher-order original (``aggregate``
      over a ``sequence``, inside a ``close_ring`` that rebuilds the
      closed ring per element access) is a CodegenFallback tree: Spark
      interprets it row by row with per-evaluation allocations.
      Measured on the sf0.1 grid-attribution path, that interpretation
      was ~70% of the whole query (noop 1.45 → 0.53 s unrolled).  Here
      each edge is a fixed ``get()`` pair (0-based, NULL past the end
      — ANSI-safe, unlike ``element_at``), so the predicate
      whole-stage-codegens with zero per-row allocation.
    - **Per-build (driver).** The same unroll built with Column
      operators is ~1,200 py4j round-trips — measured +1.6 s PLAN
      BUILD per call.  As text it is ONE ``F.expr`` parse in the JVM.

    Value-identical to :func:`point_in_polygon` within the budget BY
    CONSTRUCTION: the same straddle/x_at arithmetic per edge, 0/1
    crossings in a commutative integer sum.  ``close_ring`` is
    replaced by one unconditional wrap edge (last → first vertex):
    degenerate (+0) for an already closed ring, the true closing edge
    for an open one.  Parity pinned across ring classes in
    tests/test_geo.py::test_point_in_polygon_sql_parity."""

    def edge(a: str, b: str) -> str:
        return (
            f"(CASE WHEN (({a}.lat > {lat}) != ({b}.lat > {lat})) AND "
            f"({lon} < ((({b}.lon - {a}.lon) * ({lat} - {a}.lat)) / "
            f"({b}.lat - {a}.lat) + {a}.lon)) THEN 1 ELSE 0 END)"
        )

    terms = [
        f"(CASE WHEN {i + 1} <= size({poly}) - 1 THEN "
        f"{edge(f'(get({poly}, {i}))', f'(get({poly}, {i + 1}))')} "
        f"ELSE 0 END)"
        for i in range(PIP_UNROLL_EDGES - 1)
    ]
    terms.append(edge(f"(get({poly}, size({poly}) - 1))", f"(get({poly}, 0))"))
    return f"(pmod({' + '.join(terms)}, 2) = 1)"


def same_heading(
    direction: Column, heading: Column, tolerance_deg: float = 20.0
) -> Column:
    """airports.py:51-67: is `heading` within ±tolerance of the runway
    direction.

    The reference compares plain ``abs(direction - heading) <= tol`` —
    no wrap at 360° (350° vs 10° do NOT match).
    """
    return F.abs(direction - heading) <= F.lit(tolerance_deg)


# --------------------------------------------------------------------------
# GeoJSON export (SNK-4; reference: ST_AsGeoJSON over paths/points/polygons,
# create_public_schema.sql:225-236, create_meta_schema.sql:108-122)
# --------------------------------------------------------------------------


def _fmt(c: Column, decimals: int) -> Column:
    """Fixed-decimal formatting (ST_AsGeoJSON's maxdecimaldigits), with
    trailing-zero trim to match PostGIS output style.

    Zeros are only trimmed AFTER a decimal point — a bare ``0+$`` trim
    would corrupt integer renderings (decimals=0: '150' → '15')."""
    s = F.format_number(c.cast("double"), decimals)
    s = F.regexp_replace(s, ",", "")           # format_number groups thousands
    s = F.regexp_replace(s, r"(\.\d*?)0+$", r"$1")  # trim zeros after the point
    s = F.regexp_replace(s, r"\.$", "")         # trim bare point
    return s


def point_geojson(lon: Column, lat: Column, decimals: int = 6) -> Column:
    return F.concat(
        F.lit('{"type":"Point","coordinates":['),
        _fmt(lon, decimals), F.lit(","), _fmt(lat, decimals),
        F.lit("]}"),
    )


def linestring_geojson(coords: Column, decimals: int = 6) -> Column:
    """coords: array<struct<lon,lat>> (time-ordered) → GeoJSON LineString."""
    pair = lambda p: F.concat(
        F.lit("["), _fmt(p["lon"], decimals), F.lit(","), _fmt(p["lat"], decimals), F.lit("]")
    )
    return F.concat(
        F.lit('{"type":"LineString","coordinates":['),
        F.array_join(F.transform(coords, pair), ","),
        F.lit("]}"),
    )


def polygon_geojson(ring: Column, decimals: int = 6) -> Column:
    """ring: array<struct<lon,lat>> → GeoJSON Polygon (single ring,
    closed automatically)."""
    closed = close_ring(ring)
    pair = lambda p: F.concat(
        F.lit("["), _fmt(p["lon"], decimals), F.lit(","), _fmt(p["lat"], decimals), F.lit("]")
    )
    return F.concat(
        F.lit('{"type":"Polygon","coordinates":[['),
        F.array_join(F.transform(closed, pair), ","),
        F.lit("]]}"),
    )


_CRS_JSON = '"crs":{"type":"name","properties":{"name":"EPSG:4326"}},'


def multilinestring_geojson(
    parts: Column, decimals: int = 6, crs: bool = False
) -> Column:
    """parts: array<array<struct<lon,lat>>> → GeoJSON MultiLineString.

    ``crs=True`` mirrors ST_AsGeoJSON's options=2 short-CRS flag used
    by meta.range_rings_geojson (create_meta_schema.sql:159-164:
    st_asgeojson(rr.geom, 6, 2))."""
    pair = lambda p: F.concat(
        F.lit("["), _fmt(p["lon"], decimals), F.lit(","), _fmt(p["lat"], decimals), F.lit("]")
    )
    line = lambda ln: F.concat(
        F.lit("["), F.array_join(F.transform(ln, pair), ","), F.lit("]")
    )
    return F.concat(
        F.lit('{"type":"MultiLineString",'),
        F.lit(_CRS_JSON if crs else ""),
        F.lit('"coordinates":['),
        F.array_join(F.transform(parts, line), ","),
        F.lit("]}"),
    )
