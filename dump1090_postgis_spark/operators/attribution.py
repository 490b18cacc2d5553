"""Runway attribution: geometric lookup join (SURVEY §2.3 JOIN-5,
§2.8 STATE-5; reference airports.py:90-125, flights.py:140-195).

Reference logic per landing/takeoff event, at the event's position
with the flight's interpolated track:
1. iterate runways IN ORDER: polygon contains point AND
   |direction − heading| ≤ 20° → return that runway (first match);
2. fallback, again in order: point inside the airport bbox AND heading
   matches the runway → that runway;
3. else: 'UNK' (models.py:283-286).

One builder, :func:`runway_attributor`, serves the batch operator
(:func:`attribute_runway`) and the streaming sink
(``streaming.pipeline.attributing_sink``) alike.  It decides ONCE per
dim: the strategy from the dim's size, then the dim-side work of that
strategy (the compiled Column, or the pinned grid dims).  The function
it returns only maps events to attributed events, so a stream reuses
the decision and the dims on every micro-batch.  Two physical
strategies, picked by a branch budget:

- **Compiled coalesce (fast path, airport-scale dims).** The runway
  table is a tiny broadcast-class dimension (2 rows at NTE), so it is
  collected AT PLAN TIME and compiled into one
  ``coalesce(first-match...)`` scalar expression over the event
  columns — no join, no shuffle, no row ids, whole-stage codegen'd,
  and exactly the reference's first-match-in-iteration-order
  semantics.  (An earlier join+groupBy formulation needed a synthetic
  row id, which is nondeterministic across plan branches under
  retries.)

- **Grid-cell broadcast join (scale path).** Past the budget (e.g.
  the full 42,476-row ourairports runways.csv the reference ships at
  database/data/runways.csv), compiling every polygon would build a
  ~10^5-branch expression tree that chokes Catalyst analysis.
  Instead the runway dim is bucketed into lon/lat grid cells (each
  runway registered in every cell its bounding box overlaps), each
  cell's runways aggregated into ONE iteration-ordered
  array<struct> row, and events broadcast-HASH-join on their own
  cell key — then first-match evaluates as ``F.get(F.filter(...), 0)``
  over the small per-cell array inside a single projection.  No
  event ids, no row multiplicity change, no nested-loop join, and
  per-event cost is O(runways near that cell), not O(all runways).
  Correct by construction: a polygon containing the event lies inside
  its own bbox, so its runway is registered in the event's cell.
  The per-cell dims (a window, an explode and a collect_list over the
  runway table) are built once and pinned with an eager
  ``localCheckpoint``; every plan over events then scans the pinned
  rows instead of rebuilding them (round 13 measured the per-batch
  rebuild as part of a stream keeping up at 0.161).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.geo import (
    PIP_UNROLL_EDGES,
    pip_unrolled_sql,
    point_in_polygon,
    same_heading,
    sql_ident,
)
from ..session import job_scope

HEADING_TOLERANCE_DEG = 20.0  # airports.py:51-67

# First-match unroll budget for the grid join's direct tier: cells
# holding ≤ this many runways evaluate the first-match as a codegen'd
# coalesce over literal indices (round-13 opt — the higher-order
# filter+get was interpreted per event and dominated the query);
# larger cells per-row-fall back to the original filter expression, so
# the bound is a speed knob, never a semantics one.  4 covers every
# 0.25° cell in the ourairports-scale dim shapes this path serves
# (parallel-runway clusters included).
CELL_SCAN_UNROLL = 4

# Max coalesce branches (n_runways × (1 + n_bboxes)) the compiled
# fast path may emit — the datapipe/similarity.py:177 budget pattern.
# Past this, the grid-cell broadcast join is used instead.
BRANCH_BUDGET = 256

# Grid cell edge, degrees (~28 km at the equator).  Runway strips are
# a few km long, so each registers in 1-4 cells; events hash-join on
# exactly one cell.
GRID_DEG = 0.25


def _poly_literal(vertices) -> Column:
    return F.array(
        *[
            F.struct(
                F.lit(float(v["lon"])).alias("lon"),
                F.lit(float(v["lat"])).alias("lat"),
            )
            for v in vertices
        ]
    )


@job_scope("operators.attribution.attribute_runway")
def runway_attributor(
    runways: DataFrame,
    airport_bbox: DataFrame | None = None,
    lon: str = "longitude",
    lat: str = "latitude",
    heading: str = "interp_track",
) -> Callable[[DataFrame], DataFrame]:
    """JOIN-5: decide how to attribute against this dim, once, and
    return the map from events to events with a `runway` (name) column.

    `runways` columns: name, direction, polygon (array<struct<lon,lat>>),
    optionally `id` (iteration-order key for the grid path; without it
    the grid path orders by (name, direction) — the compiled path uses
    the frame's own row order, matching the reference's list order).
    `airport_bbox` columns: icao, bbox — enables the fallback tier.
    Unmatched events get runway='UNK' (models.py:283-286).

    The strategy is picked by the dim's size (:func:`_resolve_strategy`):
    the compiled point-in-polygon coalesce while runways × (1 + bboxes)
    fits :data:`BRANCH_BUDGET`, else the grid-cell broadcast join over
    per-cell dims pinned here with an eager ``localCheckpoint`` (one job
    per dim, named after this scope)."""
    if _resolve_strategy(runways, airport_bbox) == "compile":
        best = _compiled_coalesce(runways, airport_bbox, lon, lat, heading)

        def match(events: DataFrame) -> DataFrame:
            return events.withColumn("runway", best)

    else:
        cell_rw = _grid_runway_cells(runways).localCheckpoint(eager=True)
        cell_bb = dirs = None
        if airport_bbox is not None:
            cell_bb = _grid_bbox_cells(airport_bbox).localCheckpoint(eager=True)
            dirs = _runway_dirs(runways).localCheckpoint(eager=True)

        def match(events: DataFrame) -> DataFrame:
            return _grid_cell_join(events, cell_rw, cell_bb, dirs, lon, lat, heading)

    def attribute(events: DataFrame) -> DataFrame:
        return match(events).withColumn(
            "runway", F.coalesce(F.col("runway"), F.lit("UNK"))
        )

    return attribute


def attribute_runway(
    events: DataFrame,
    runways: DataFrame,
    airport_bbox: DataFrame | None = None,
    lon: str = "longitude",
    lat: str = "latitude",
    heading: str = "interp_track",
) -> DataFrame:
    """JOIN-5: `events` with the `runway` each one is attributed to —
    :func:`runway_attributor` applied once."""
    return runway_attributor(runways, airport_bbox, lon, lat, heading)(events)


def _resolve_strategy(
    runways: DataFrame, airport_bbox: DataFrame | None
) -> str:
    """The compile-vs-grid gate: compile the point-in-polygon coalesce
    when the branch count (runways × (1 + bboxes)) fits the expression
    budget, else the grid-cell broadcast join.

    Sizing is jobless when Catalyst already knows the count exactly
    (literal/in-memory dims are LocalRelations — the common case for
    runway tables, and the case where an eager count() job is pure
    scheduling overhead: the round-7→11 join5 bench constant, ~0.3 s
    of plan-build latency per call, bisected to exactly this count in
    round 12); otherwise one eager count per dim — bounded by the dim,
    run once per :func:`runway_attributor` call."""
    from ..datapipe.costmodel import plan_rows

    n_rw = plan_rows(runways)
    if n_rw is None:
        n_rw = runways.count()
    n_bb = 0
    if airport_bbox is not None:
        n_bb = plan_rows(airport_bbox)
        if n_bb is None:
            n_bb = airport_bbox.count()
    return "compile" if n_rw * (1 + n_bb) <= BRANCH_BUDGET else "grid"


def _compiled_coalesce(
    runways: DataFrame,
    airport_bbox: DataFrame | None,
    lon: str,
    lat: str,
    heading: str,
) -> Column:
    """Plan-time compile of a broadcast-class runway dim into one
    first-match coalesce expression (see module docstring)."""
    rows = runways.select("name", "direction", "polygon").collect()
    plon, plat, phead = F.col(lon), F.col(lat), F.col(heading)

    def heading_ok(r) -> Column:
        return same_heading(F.lit(float(r.direction)), phead, HEADING_TOLERANCE_DEG)

    direct = [
        F.when(
            point_in_polygon(plon, plat, _poly_literal(r.polygon)) & heading_ok(r),
            F.lit(r.name),
        )
        for r in rows
    ]

    tiers = list(direct)
    if airport_bbox is not None:
        bboxes = airport_bbox.select("bbox").collect()
        for b in bboxes:
            in_bbox = point_in_polygon(plon, plat, _poly_literal(b.bbox))
            tiers.extend(
                F.when(in_bbox & heading_ok(r), F.lit(r.name)) for r in rows
            )

    return F.coalesce(*tiers, F.lit(None).cast("string"))


def _ring_cells(poly: Column, grid: Column, axis: str) -> tuple[Column, Column]:
    """[min, max] grid-cell index range covered by the ring on one axis."""
    vals = F.transform(poly, lambda v: v[axis])
    return (
        F.floor(F.array_min(vals) / grid),
        F.floor(F.array_max(vals) / grid),
    )


def _per_cell(df: DataFrame, poly_col: str, grid: Column, agg: Column) -> DataFrame:
    """Explode a polygon dim over every grid cell its bbox overlaps and
    aggregate `agg` per cell.  Broadcast-class input in ONE partition,
    which the grouping takes as is: no exchange, so building and
    pinning a dim is a single Spark job.  Output is one row per
    occupied cell."""
    lo_x, hi_x = _ring_cells(F.col(poly_col), grid, "lon")
    lo_y, hi_y = _ring_cells(F.col(poly_col), grid, "lat")
    return (
        df.withColumn("__cx", F.explode(F.sequence(lo_x, hi_x)))
        .withColumn("__cy", F.explode(F.sequence(lo_y, hi_y)))
        .groupBy("__cx", "__cy")
        .agg(agg)
    )


def _ordered_runways(runways: DataFrame) -> DataFrame:
    """Iteration-ordered runway dim (__ord, name, direction, polygon).
    Single-partition window over a broadcast-class dim (≤ ~10^5 rows)
    — bounded by construction, never over event data.  The dim is
    coalesced to that one partition up front, so the window needs no
    exchange either."""
    order = ["id"] if "id" in runways.columns else ["name", "direction"]
    return (
        runways.coalesce(1)
        .withColumn(
            "__ord", F.row_number().over(Window.orderBy(*[F.col(c) for c in order]))
        )
        .select(
            "__ord", "name",
            F.col("direction").cast("double").alias("direction"), "polygon",
        )
    )


def _grid_runway_cells(runways: DataFrame) -> DataFrame:
    """(__cx, __cy, __rw ordered-runway array) per occupied grid cell
    — the static dim side of the grid join."""
    return _per_cell(
        _ordered_runways(runways), "polygon", F.lit(float(GRID_DEG)),
        F.array_sort(
            F.collect_list(F.struct("__ord", "name", "direction", "polygon"))
        ).alias("__rw"),
    )


def _grid_bbox_cells(airport_bbox: DataFrame) -> DataFrame:
    """(__cx, __cy, __bb bbox array) per occupied cell — static dim
    side of the bbox fallback tier."""
    return _per_cell(
        airport_bbox.select("bbox").coalesce(1), "bbox", F.lit(float(GRID_DEG)),
        F.collect_list("bbox").alias("__bb"),
    )


def _runway_dirs(runways: DataFrame) -> DataFrame:
    """One-row (``__dirs``: ordered (ord, name, direction) array) frame —
    the heading-only fallback the bbox tier scans."""
    return _ordered_runways(runways).agg(
        F.array_sort(
            F.collect_list(F.struct("__ord", "name", "direction"))
        ).alias("__dirs")
    )


#: (lon, lat, heading, unroll consts) → parsed (gate,
#: value) Columns for the unrolled direct tier.  Expression memo, not
#: a data/result cache: Columns wrap immutable unresolved expression
#: trees that resolve per-plan, so reuse across calls (and across
#: sessions in one JVM) is safe, and it removes the ~0.3 s warm
#: re-parse of the unrolled SQL from every plan build.
_DIRECT_TIER_CACHE: dict = {}


def _direct_tier_exprs(lon: str, lat: str, heading: str) -> tuple:
    """(gate, value) Columns of the unrolled grid direct tier — see
    the call site in :func:`_grid_cell_join` for the full rationale.
    The gate admits a row only when the whole unrolled evaluation is
    exact: cell array within CELL_SCAN_UNROLL and every candidate ring
    within PIP_UNROLL_EDGES (missing candidates guard vacuously-true
    through coalesce; a present-but-NULL polygon stays admitted — the
    fragment skips it exactly like the filter form)."""
    key = (lon, lat, heading, CELL_SCAN_UNROLL, PIP_UNROLL_EDGES)
    hitq = _DIRECT_TIER_CACHE.get(key)
    if hitq is not None:
        return hitq
    lon_s, lat_s, head_s = sql_ident(lon), sql_ident(lat), sql_ident(heading)
    tol_s = f"{HEADING_TOLERANCE_DEG!r}D"
    rw_s = "`__rw`"
    guards, cands = [], []
    for k in range(CELL_SCAN_UNROLL):
        poly_s = f"((get({rw_s}, {k})).polygon)"
        guards.append(
            f"coalesce(size({poly_s}) <= {PIP_UNROLL_EDGES}, true)"
        )
        hit_s = (
            f"({pip_unrolled_sql(lon_s, lat_s, poly_s)}) AND "
            f"(abs((get({rw_s}, {k})).direction - {head_s}) <= {tol_s})"
        )
        cands.append(
            f"(CASE WHEN {hit_s} THEN "
            f"named_struct('n', (get({rw_s}, {k})).name) END)"
        )
    out = (
        F.expr(
            f"(size({rw_s}) <= {CELL_SCAN_UNROLL}) AND "
            + " AND ".join(guards)
        ),
        F.expr(f"(coalesce({', '.join(cands)})).n"),
    )
    _DIRECT_TIER_CACHE[key] = out
    return out


def _grid_cell_join(
    events: DataFrame,
    cell_rw: DataFrame,
    cell_bb: DataFrame | None,
    dirs: DataFrame | None,
    lon: str,
    lat: str,
    heading: str,
) -> DataFrame:
    """Scale path: events broadcast-hash-join their grid cell's
    iteration-ordered runway array; first-match is a projection over
    that (small) array.  See module docstring.

    ``cell_rw``/``cell_bb``/``dirs``: the pinned static dim frames
    (:func:`_grid_runway_cells`, :func:`_grid_bbox_cells`,
    :func:`_runway_dirs`); ``cell_bb``/``dirs`` are None without an
    airport bbox."""
    grid = F.lit(float(GRID_DEG))
    plon, plat, phead = F.col(lon), F.col(lat), F.col(heading)

    ev = events.withColumn("__cx", F.floor(plon / grid)).withColumn(
        "__cy", F.floor(plat / grid)
    )
    ev = ev.join(F.broadcast(cell_rw), ["__cx", "__cy"], "left")

    hit = lambda r: point_in_polygon(plon, plat, r["polygon"]) & same_heading(
        r["direction"], phead, HEADING_TOLERANCE_DEG
    )
    # Direct tier first-match, UNROLLED AS SQL TEXT (round-13): the
    # higher-order ``get(filter(__rw, hit), 0)`` ran interpreted per
    # event — with the ray-cast aggregate and its per-evaluation
    # ring/sequence allocations it was ~70% of the sf0.1 grid query
    # (noop 1.45 → 0.53 s).  Cells that fit the unroll budget (≤
    # CELL_SCAN_UNROLL runways, every ring ≤ PIP_UNROLL_EDGES
    # vertices — one hoisted row-level gate, so the fragment carries
    # no per-candidate fallback) evaluate a codegen'd coalesce over
    # literal indices; each candidate wraps its name in a struct so a
    # matched NULL name still WINS the first-match (a bare when(hit,
    # name) would fall through to the next runway).  Rows past the
    # gate (and NULL __rw from the left join, whose size() is NULL)
    # take the original filter expression via a per-row branch —
    # identical values by construction, pinned in
    # tests/test_geo.py::test_grid_first_match_unrolled_parity.
    # Rendered as one F.expr parse and MEMOIZED on the generating
    # parameters: the same unroll built per-call through py4j measured
    # +1.6 s of plan-build time, and even the warm re-parse of the
    # text is ~0.3 s a bench driver would pay per plan build
    # (pip_unrolled_sql docstring).
    gate_c, val_c = _direct_tier_exprs(lon, lat, heading)
    direct = F.when(gate_c, val_c).otherwise(
        F.get(F.filter(F.col("__rw"), hit), 0)["name"]
    )

    drop = ["__cx", "__cy", "__rw"]
    if cell_bb is not None:
        ev = ev.join(F.broadcast(cell_bb), ["__cx", "__cy"], "left")
        # Heading match is position-independent, so the reference's
        # (bbox-major, runway-order) first match reduces to: point in
        # ANY bbox → first runway (global order) whose heading matches.
        ev = ev.crossJoin(F.broadcast(dirs))
        in_bbox = F.exists(F.col("__bb"), lambda b: point_in_polygon(plon, plat, b))
        fb = F.when(
            in_bbox,
            F.get(
                F.filter(
                    F.col("__dirs"),
                    lambda r: same_heading(
                        r["direction"], phead, HEADING_TOLERANCE_DEG
                    ),
                ),
                0,
            )["name"],
        )
        best = F.coalesce(direct, fb)
        drop += ["__bb", "__dirs"]
    else:
        best = direct

    return ev.withColumn("runway", best).drop(*drop)
