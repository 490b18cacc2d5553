"""Geometry parity with the reference's most rigorous suite
(test_airports.py): point-in-polygon on the real NTE runway
quadrilateral, heading tolerance boundaries (±20° exactly), runway
attribution with bbox fallback and priority."""

import pytest
from pyspark.sql import functions as F

from dump1090_postgis_spark.functions.geo import point_in_polygon, same_heading
from dump1090_postgis_spark.operators import attribution
from dump1090_postgis_spark.operators.attribution import attribute_runway
from dump1090_postgis_spark.sources.dims import nte_airport, nte_runways

# Points relative to the real NTE geometry (airports.py:129-164):
ON_RUNWAY = (-1.6113635, 47.15234925)     # centroid of the strip quad
OFF_RUNWAY_IN_AIRPORT = (-1.606000, 47.153500)  # inside bbox, off strip
FAR_AWAY = (-1.500000, 47.000000)


def _contains(spark, pt, poly_df, poly_col):
    df = spark.createDataFrame([pt], "px double, py double")
    return (
        df.crossJoin(poly_df)
        .select(point_in_polygon(F.col("px"), F.col("py"), F.col(poly_col)).alias("c"))
        .collect()
    )


def test_point_in_runway(spark):
    rws = nte_runways(spark).limit(1)
    assert _contains(spark, ON_RUNWAY, rws, "polygon")[0].c is True
    assert _contains(spark, OFF_RUNWAY_IN_AIRPORT, rws, "polygon")[0].c is False
    assert _contains(spark, FAR_AWAY, rws, "polygon")[0].c is False


def test_point_in_airport_bbox(spark):
    ap = nte_airport(spark)
    assert _contains(spark, OFF_RUNWAY_IN_AIRPORT, ap, "bbox")[0].c is True
    assert _contains(spark, FAR_AWAY, ap, "bbox")[0].c is False


@pytest.mark.parametrize(
    "direction,heading,expected",
    [
        (30, 30, True),
        (30, 50, True),    # exactly +20 → in (<=)
        (30, 10, True),    # exactly -20 → in
        (30, 50.1, False),
        (30, 9.9, False),
        (30, 210, False),  # inverse runway
        (210, 215, True),
    ],
)
def test_same_heading_tolerance(spark, direction, heading, expected):
    row = (
        spark.range(1)
        .select(same_heading(F.lit(direction), F.lit(float(heading))).alias("m"))
        .collect()[0]
    )
    assert row.m is expected


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, longitude double, latitude double, interp_track double"
    )


def test_attribution_exact_runway(spark):
    ev = _events(spark, [(1, *ON_RUNWAY, 32.0)])
    out = attribute_runway(ev, nte_runways(spark), nte_airport(spark)).collect()
    assert out[0].runway == "03"


def test_attribution_inverse_runway(spark):
    ev = _events(spark, [(1, *ON_RUNWAY, 212.0)])
    out = attribute_runway(ev, nte_runways(spark), nte_airport(spark)).collect()
    assert out[0].runway == "21"


def test_attribution_bbox_fallback(spark):
    # off the strip but inside the airport bbox with a matching heading
    ev = _events(spark, [(1, *OFF_RUNWAY_IN_AIRPORT, 28.0)])
    out = attribute_runway(ev, nte_runways(spark), nte_airport(spark)).collect()
    assert out[0].runway == "03"


def test_attribution_no_match(spark):
    ev = _events(spark, [(1, *FAR_AWAY, 28.0), (2, *ON_RUNWAY, 90.0)])
    out = {r.event_id: r.runway for r in
           attribute_runway(ev, nte_runways(spark), nte_airport(spark)).collect()}
    assert out[1] == "UNK"  # off airport
    assert out[2] == "UNK"  # on runway, wrong heading


# ---------------------------------------------------------------------------
# Grid-cell broadcast-join scale path (branch budget exceeded)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "point,heading,expected",
    [
        (ON_RUNWAY, 32.0, "03"),               # direct hit
        (ON_RUNWAY, 212.0, "21"),              # reciprocal end
        (OFF_RUNWAY_IN_AIRPORT, 28.0, "03"),   # bbox fallback
        (FAR_AWAY, 28.0, "UNK"),               # off airport
        (ON_RUNWAY, 90.0, "UNK"),              # on strip, wrong heading
    ],
)
def test_attribution_join_path_parity(
    spark, monkeypatch, point, heading, expected
):
    """A zero BRANCH_BUDGET sends the NTE dim down the grid-cell join
    path; every compiled-path scenario must attribute identically."""
    monkeypatch.setattr(attribution, "BRANCH_BUDGET", 0)
    ev = _events(spark, [(1, *point, heading)])
    out = attribute_runway(ev, nte_runways(spark), nte_airport(spark)).collect()
    assert out[0].runway == expected


def test_attribution_join_path_plan_and_schema(spark, monkeypatch):
    """The join path must be a broadcast hash join on the grid cell (no
    nested-loop over the runway dim), preserve the event schema +
    row count, and leave no helper columns behind."""
    monkeypatch.setattr(attribution, "BRANCH_BUDGET", 0)
    ev = _events(spark, [(1, *ON_RUNWAY, 32.0), (2, *FAR_AWAY, 10.0)])
    out = attribute_runway(ev, nte_runways(spark), nte_airport(spark))
    assert out.columns == ev.columns + ["runway"]
    assert out.count() == 2
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_attribution_null_coords_and_heading(spark, monkeypatch):
    """NULL lon/lat or heading rows stay rows and attribute to UNK in
    BOTH paths (compiled when() skips on NULL; join-path filter drops
    NULL predicates)."""
    ev = spark.createDataFrame(
        [(1, None, None, 30.0), (2, ON_RUNWAY[0], ON_RUNWAY[1], None)],
        "event_id long, longitude double, latitude double, interp_track double",
    )
    for budget in (256, 0):
        monkeypatch.setattr(attribution, "BRANCH_BUDGET", budget)
        out = {
            r.event_id: r.runway
            for r in attribute_runway(
                ev, nte_runways(spark), nte_airport(spark)
            ).collect()
        }
        assert out == {1: "UNK", 2: "UNK"}


def test_point_in_polygon_sql_parity(spark):
    """SQL-text unrolled ray cast ≡ higher-order ray cast on every
    ring class within the unroll budget: open/closed quads, concave
    rings and degenerate 2-vertex rings — over a point grid crossing
    all boundaries.  (round-13 opt: the unrolled form codegens and
    parses as one F.expr; the HOF form is the semantics oracle.)"""
    from dump1090_postgis_spark.functions.geo import (
        PIP_UNROLL_EDGES,
        pip_unrolled_sql,
    )

    quad_open = [(0.0, 0.0), (2.0, 0.0), (2.0, 1.0), (0.0, 1.0)]
    quad_closed = quad_open + [quad_open[0]]
    concave = [(0.0, 0.0), (4.0, 0.0), (4.0, 3.0), (2.0, 1.0), (0.0, 3.0)]
    degenerate = [(0.0, 0.0), (1.0, 1.0)]
    polys = [quad_open, quad_closed, concave, degenerate]
    assert all(len(p) <= PIP_UNROLL_EDGES for p in polys)
    pts = [
        (x / 2.0 + 0.001, y / 2.0 + 0.001)
        for x in range(-1, 10)
        for y in range(-1, 8)
    ]
    rows = [
        (float(px), float(py),
         [{"lon": lon, "lat": lat} for lon, lat in poly])
        for px, py in pts
        for poly in polys
    ]
    df = spark.createDataFrame(
        rows, "px double, py double, poly array<struct<lon:double,lat:double>>"
    )
    out = df.select(
        point_in_polygon(F.col("px"), F.col("py"), F.col("poly")).alias("hof"),
        F.expr(pip_unrolled_sql("`px`", "`py`", "`poly`")).alias("unr"),
    ).collect()
    assert len(out) == len(rows)
    assert any(r.hof for r in out) and not all(r.hof for r in out)
    for r in out:
        assert r.hof == r.unr, r


def test_grid_first_match_unrolled_parity(spark, monkeypatch):
    """Grid direct tier with MORE runways per cell than the unroll
    budget: 6 overlapping same-cell quads (only #4 and #6 match the
    heading) must still attribute first-match-in-iteration-order via
    the per-row fallback branch, and a matched runway keeps winning
    when it is not the first array element."""
    from dump1090_postgis_spark.operators.attribution import (
        CELL_SCAN_UNROLL,
    )

    n = CELL_SCAN_UNROLL + 2
    sq = [(0.0, 0.0), (0.2, 0.0), (0.2, 0.2), (0.0, 0.2)]
    rows = [
        (
            f"R{i:02d}",
            # only the last two runways match heading 30
            30.0 if i >= n - 2 else 210.0,
            [{"lon": x, "lat": y} for x, y in sq],
        )
        for i in range(n)
    ]
    rw = spark.createDataFrame(
        rows,
        "name string, direction double, polygon array<struct<lon:double,lat:double>>",
    )
    ev = _events(spark, [(1, 0.1, 0.1, 30.0), (2, 5.0, 5.0, 30.0)])
    monkeypatch.setattr(attribution, "BRANCH_BUDGET", 0)  # grid path
    out = {
        r.event_id: r.runway
        for r in attribute_runway(
            ev, rw, None,
            lon="longitude", lat="latitude", heading="interp_track",
        ).collect()
    }
    # first match in (name, direction) iteration order among heading
    # matchers = R04 (n-2); event 2 is outside every polygon
    assert out == {1: f"R{n - 2:02d}", 2: "UNK"}
