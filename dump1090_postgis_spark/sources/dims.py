"""Dimension-table loaders (SURVEY §2.1 SRC-4/SRC-5; reference
database/csv2db.sh:7-18, read_csv_data.sql:1-38) and the NTE seed
geometry (airports.py:129-164, create_meta_schema.sql:243).

Dimensions are small (airlines ~6k rows, countries ~250, runways 2) —
loaded with declared schemas (no inference) and meant to be used
broadcast (F.broadcast at the join site).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.conversions import FT_TO_M  # one shared constant
from ..schemas import (
    AIRLINE_SCHEMA,
    AIRPORT_SCHEMA,
    RUNWAY_SCHEMA,
)


def load_airlines_csv(spark: SparkSession, path: str) -> DataFrame:
    """SRC-4: `\\copy meta.airlines FROM csv HEADER QUOTE '"'`.

    ``escape='"'`` matches Postgres COPY CSV (ESCAPE defaults to the
    quote char, RFC-4180 doubled quotes): Spark's default escape is
    backslash, which mis-parses 'Air ""K"" Ltd' fields — the runway
    and airport loaders below already pass it."""
    return spark.read.csv(
        path, header=True, quote='"', escape='"', schema=AIRLINE_SCHEMA
    )


def load_aircraft_images(spark: SparkSession, directory: str) -> DataFrame:
    """SRC-5 (read_csv_data.sql:24-38): scan a directory of .bmp
    silhouettes into (model, image) rows — `binaryFile` reader replaces
    the reference's plpgsql pg_ls_dir loop.  The model name is the file
    stem (split_part(fn,'.',1))."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bmp")
        .load(directory)
        .select(
            F.element_at(
                F.split(F.element_at(F.split(F.col("path"), "/"), -1), r"\."), 1
            ).alias("model"),
            F.col("content").alias("image"),
            F.col("length").alias("image_bytes"),
        )
    )


# ---------------------------------------------------------------------------
# Generic runway/airport CSV loaders (the reference ships
# database/data/runways.csv in the public ourairports.com export format
# but hand-codes only the NTE polygons in airports.py:129-164 — a user
# pointing the engine at another airport needs these).  A runway row
# gives both END coordinates + width; the strip polygon the
# meta.runways DDL wants (create_meta_schema.sql:173-181) is derived
# declaratively: offset each end perpendicular to the centerline by
# width/2, yielding the same thin quadrilateral shape as the NTE seed.
# ---------------------------------------------------------------------------

OURAIRPORTS_RUNWAYS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType(), False),
        T.StructField("airport_ref", T.IntegerType(), True),
        T.StructField("airport_ident", T.StringType(), True),
        T.StructField("length_ft", T.DoubleType(), True),
        T.StructField("width_ft", T.DoubleType(), True),
        T.StructField("surface", T.StringType(), True),
        T.StructField("lighted", T.IntegerType(), True),
        T.StructField("closed", T.IntegerType(), True),
        T.StructField("le_ident", T.StringType(), True),
        T.StructField("le_latitude_deg", T.DoubleType(), True),
        T.StructField("le_longitude_deg", T.DoubleType(), True),
        T.StructField("le_elevation_ft", T.DoubleType(), True),
        T.StructField("le_heading_degT", T.DoubleType(), True),
        T.StructField("le_displaced_threshold_ft", T.DoubleType(), True),
        T.StructField("he_ident", T.StringType(), True),
        T.StructField("he_latitude_deg", T.DoubleType(), True),
        T.StructField("he_longitude_deg", T.DoubleType(), True),
        T.StructField("he_elevation_ft", T.DoubleType(), True),
        T.StructField("he_heading_degT", T.DoubleType(), True),
        T.StructField("he_displaced_threshold_ft", T.DoubleType(), True),
    ]
)

# ourairports.com airports.csv export (not shipped by the reference but
# the matching public format for meta.airports)
OURAIRPORTS_AIRPORTS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType(), False),
        T.StructField("ident", T.StringType(), False),
        T.StructField("type", T.StringType(), True),
        T.StructField("name", T.StringType(), True),
        T.StructField("latitude_deg", T.DoubleType(), True),
        T.StructField("longitude_deg", T.DoubleType(), True),
        T.StructField("elevation_ft", T.DoubleType(), True),
        T.StructField("continent", T.StringType(), True),
        T.StructField("iso_country", T.StringType(), True),
        T.StructField("iso_region", T.StringType(), True),
        T.StructField("municipality", T.StringType(), True),
        T.StructField("scheduled_service", T.StringType(), True),
        T.StructField("gps_code", T.StringType(), True),
        T.StructField("iata_code", T.StringType(), True),
        T.StructField("local_code", T.StringType(), True),
        T.StructField("home_link", T.StringType(), True),
        T.StructField("wikipedia_link", T.StringType(), True),
        T.StructField("keywords", T.StringType(), True),
    ]
)

_M_PER_DEG_LAT = 110574.0
_M_PER_DEG_LON_EQ = 111320.0


def _pt(lon, lat):
    """(lon, lat) vertex struct — the one definition every polygon/bbox
    builder shares (Spark 4 drops inner aliases on computed struct
    children, so builders cast the array to pin field names)."""
    return F.struct(lon.alias("lon"), lat.alias("lat"))


def load_runways_csv(spark: SparkSession, path: str) -> DataFrame:
    """Raw ourairports-format runways.csv (the file the reference ships
    at database/data/runways.csv), declared schema, RFC-4180 quoting."""
    return spark.read.csv(
        path, header=True, quote='"', escape='"',
        schema=OURAIRPORTS_RUNWAYS_SCHEMA,
    )


def load_airports_csv(spark: SparkSession, path: str) -> DataFrame:
    """Raw ourairports-format airports.csv, declared schema."""
    return spark.read.csv(
        path, header=True, quote='"', escape='"',
        schema=OURAIRPORTS_AIRPORTS_SCHEMA,
    )


def _ident_heading(ident_col: F.Column) -> F.Column:
    """Runway designator → approach heading: leading digits × 10
    ('03' → 30, '21L' → 210); NULL for helipads ('H1')."""
    digits = F.regexp_extract(ident_col, r"^(\d+)", 1)
    return F.when(digits != "", digits.cast("int") * 10)


def runways_from_csv(
    raw: DataFrame, airport_icao: str | None = None
) -> DataFrame:
    """ourairports runway rows → RUNWAY_SCHEMA rows (two designators
    per physical strip, sharing one derived quadrilateral polygon —
    the NTE seed's shape, computed instead of hand-drawn).

    Pure DataFrame expressions throughout (a broadcast-dim-sized
    frame, but there is no reason to collect); rows lacking end
    coordinates or width (helipads, many small airfields) are dropped.
    Direction prefers the surveyed true heading (le/he_heading_degT)
    and falls back to designator × 10.
    """
    r = raw
    if airport_icao is not None:
        r = r.filter(F.col("airport_ident") == airport_icao)
    r = r.filter(
        (F.coalesce(F.col("closed"), F.lit(0)) == 0)
        & F.col("le_latitude_deg").isNotNull()
        & F.col("le_longitude_deg").isNotNull()
        & F.col("he_latitude_deg").isNotNull()
        & F.col("he_longitude_deg").isNotNull()
        & F.col("width_ft").isNotNull()
        # degenerate strips (identical thresholds — present in the full
        # ourairports export) have no centerline, hence no polygon
        & (
            (F.col("le_latitude_deg") != F.col("he_latitude_deg"))
            | (F.col("le_longitude_deg") != F.col("he_longitude_deg"))
        )
    )
    lat1, lon1 = F.col("le_latitude_deg"), F.col("le_longitude_deg")
    lat2, lon2 = F.col("he_latitude_deg"), F.col("he_longitude_deg")
    m_lat = F.lit(_M_PER_DEG_LAT)
    m_lon = F.lit(_M_PER_DEG_LON_EQ) * F.cos(F.radians((lat1 + lat2) / 2))
    dx = (lon2 - lon1) * m_lon  # centerline vector, meters
    dy = (lat2 - lat1) * m_lat
    norm = F.sqrt(dx * dx + dy * dy)
    halfw = F.col("width_ft") * FT_TO_M / 2
    olon = -dy / norm * halfw / m_lon  # perpendicular half-width offset, deg
    olat = dx / norm * halfw / m_lat

    polygon = F.array(
        _pt(lon1 + olon, lat1 + olat),
        _pt(lon2 + olon, lat2 + olat),
        _pt(lon2 - olon, lat2 - olat),
        _pt(lon1 - olon, lat1 - olat),
    ).cast("array<struct<lon:double,lat:double>>")
    ends = F.array(
        F.struct(
            F.col("le_ident").alias("name"),
            F.coalesce(
                F.round("le_heading_degT").cast("int"),
                _ident_heading(F.col("le_ident")),
            ).alias("direction"),
            (F.col("id") * 2).alias("end_id"),
        ),
        F.struct(
            F.col("he_ident").alias("name"),
            F.coalesce(
                F.round("he_heading_degT").cast("int"),
                _ident_heading(F.col("he_ident")),
            ).alias("direction"),
            (F.col("id") * 2 + 1).alias("end_id"),
        ),
    )
    return (
        r.select(
            F.col("airport_ident").alias("airport_icao"),
            (F.col("length_ft") * FT_TO_M).alias("length"),
            polygon.alias("polygon"),
            F.explode(ends).alias("end"),
        )
        .select(
            F.col("end.end_id").alias("id"),
            "airport_icao",
            F.col("end.name").alias("name"),
            F.col("end.direction").alias("direction"),
            "length",
            "polygon",
        )
        .filter(F.col("name").isNotNull() & F.col("direction").isNotNull())
    )


def airports_from_csv(
    raw: DataFrame, runways: DataFrame | None = None, bbox_margin_deg: float = 0.002
) -> DataFrame:
    """ourairports airport rows → AIRPORT_SCHEMA rows.  The bbox —
    meta.airports wants a boundary polygon but the CSV only has a
    point — is the envelope of the airport's runway polygons (when
    ``runways`` from runways_from_csv is given) padded by
    ``bbox_margin_deg``, else NULL.  locale/timezone are not in the
    public export → NULL (fill from a locale dim if needed)."""
    base = raw.select(
        F.col("ident").alias("icao"),
        F.col("iata_code").alias("iata"),
        "name",
        F.col("municipality").alias("city"),
        F.col("longitude_deg").alias("lon"),
        F.col("latitude_deg").alias("lat"),
        (F.col("elevation_ft") * FT_TO_M).alias("altitude"),
        F.col("iso_country").alias("country"),
        F.lit(None).cast("string").alias("locale"),
        F.lit(None).cast("string").alias("timezone"),
    )
    if runways is None:
        return base.withColumn(
            "bbox", F.lit(None).cast(AIRPORT_SCHEMA["bbox"].dataType)
        )
    corners = runways.select(
        F.col("airport_icao").alias("icao"), F.explode("polygon").alias("p")
    )
    m = F.lit(bbox_margin_deg)
    env = corners.groupBy("icao").agg(
        (F.min("p.lon") - m).alias("_lo_lon"),
        (F.max("p.lon") + m).alias("_hi_lon"),
        (F.min("p.lat") - m).alias("_lo_lat"),
        (F.max("p.lat") + m).alias("_hi_lat"),
    )

    bbox = F.array(
        _pt(F.col("_lo_lon"), F.col("_lo_lat")),
        _pt(F.col("_hi_lon"), F.col("_lo_lat")),
        _pt(F.col("_hi_lon"), F.col("_hi_lat")),
        _pt(F.col("_lo_lon"), F.col("_hi_lat")),
    ).cast("array<struct<lon:double,lat:double>>")
    # an airport with NO matching runway rows misses the left join —
    # its envelope columns are NULL, and a 4-vertex array of NULL
    # coordinates is NOT a null bbox (bbox.isNotNull() is the contract
    # the runways=None path establishes); keep it truly NULL
    bbox = F.when(F.col("_lo_lon").isNotNull(), bbox)
    return (
        base.join(F.broadcast(env), "icao", "left")
        .withColumn("bbox", bbox)
        .drop("_lo_lon", "_hi_lon", "_lo_lat", "_hi_lat")
    )


# ---------------------------------------------------------------------------
# Seed data: Nantes Atlantique (LFRS/NTE) — the reference's built-in
# airport. Two runway headings (03 → 30°, 21 → 210°) sharing one
# physical strip; polygons per airports.py:129-153, airport bbox per
# airports.py:155-164.
# ---------------------------------------------------------------------------

# Thin quadrilateral around the single physical strip (airports.py:129-153);
# both runway designators 03 (dir 30°) and 21 (dir 210°) share it.
_NTE_RUNWAY_POLY = [
    (-1.619792, 47.141703),
    (-1.603446, 47.163170),
    (-1.602936, 47.162999),
    (-1.619280, 47.141525),
]

# Airport boundary pentagon (airports.py:155-164).
_NTE_BBOX = [
    (-1.621437, 47.142339),
    (-1.603608, 47.165234),
    (-1.596542, 47.162784),
    (-1.600891, 47.153871),
    (-1.617134, 47.140760),
]


def _sql_literal(v, dt: T.DataType) -> str:
    """Render one Python value as a foldable Spark SQL literal of the
    declared type (see :func:`literal_dim`)."""
    if v is None:
        return f"CAST(NULL AS {dt.simpleString()})"
    if isinstance(dt, T.ArrayType):
        if len(v) == 0:
            # bare array() infers ARRAY<VOID>; pin the element type
            return f"CAST(array() AS {dt.simpleString()})"
        items = ", ".join(_sql_literal(x, dt.elementType) for x in v)
        return f"array({items})"
    if isinstance(dt, T.StructType):
        get = (dict.__getitem__ if isinstance(v, dict)
               else lambda row, k: getattr(row, k))
        parts = ", ".join(
            f"'{f.name}', {_sql_literal(get(v, f.name), f.dataType)}"
            for f in dt.fields
        )
        return f"named_struct({parts})"
    if isinstance(dt, T.StringType):
        return "'" + str(v).replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(dt, T.BooleanType):
        return "true" if v else "false"
    if isinstance(dt, T.DoubleType):
        # string→double cast: exact shortest-repr round-trip, no
        # exponent-suffix parsing pitfalls
        return f"CAST('{float(v)!r}' AS DOUBLE)"
    if isinstance(dt, (T.IntegerType, T.LongType, T.ShortType)):
        return f"CAST({int(v)} AS {dt.simpleString()})"
    raise TypeError(f"literal_dim: unsupported type {dt.simpleString()}")


def literal_dim(spark: SparkSession, rows: list, schema) -> DataFrame:
    """Build a small literal dimension as a pure-JVM **LocalRelation**
    (``SELECT ... FROM VALUES``) instead of ``spark.createDataFrame``.

    Python ``createDataFrame`` wraps the rows in a pickled Python RDD
    (``LogicalRDD``): every ``count()``/``collect()`` on it — e.g. the
    attribution strategy gate and the plan-time polygon compile —
    launches a full Spark job whose tasks each start a PYTHON WORKER,
    ~0.7 s for a 2-row dim on local[32] (measured round 12; this was
    the round-7→11 join5 bench constant).  A LocalRelation instead
    folds constants at plan time: ``costmodel.plan_rows`` reads the
    row count with ZERO jobs and ``collect()`` never leaves the
    driver.  Row order is preserved (VALUES order), which attribution
    relies on for first-match iteration order.

    ``schema``: StructType or DDL string; values are rendered as
    foldable literals of the declared type (strings, booleans,
    int/long, double via exact string cast, arrays, structs)."""
    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    # Backtick-quote field names: reserved words / dashes / spaces are
    # legal StructField names that createDataFrame accepted, so the SQL
    # rendering must too (backticks themselves escape by doubling).
    def _q(name: str) -> str:
        return "`" + name.replace("`", "``") + "`"

    cols = ", ".join(
        f"{_sql_literal(None, f.dataType)} AS {_q(f.name)}"
        for f in schema.fields
    )
    tuples = ", ".join(
        "(" + ", ".join(
            _sql_literal(v, f.dataType)
            for v, f in zip(row, schema.fields)
        ) + ")"
        for row in rows
    )
    if not tuples:
        return spark.sql(f"SELECT {cols} WHERE 1=0")
    names = ", ".join(_q(f.name) for f in schema.fields)
    return spark.sql(f"SELECT * FROM VALUES {tuples} AS t({names})")


def _poly_rows(pts):
    return [{"lon": x, "lat": y} for (x, y) in pts]


def nte_runways(spark: SparkSession) -> DataFrame:
    """Seed meta.runways (create_meta_schema.sql:174-181 + airports.py
    constants). Runways 03/21 share one strip polygon but differ in
    direction — exactly the reference's parallel-runway caveat
    (airports.py:94-97)."""
    rows = [
        (1, "LFRS", "03", 30, 2900.0, _poly_rows(_NTE_RUNWAY_POLY)),
        (2, "LFRS", "21", 210, 2900.0, _poly_rows(_NTE_RUNWAY_POLY)),
    ]
    return literal_dim(spark, rows, RUNWAY_SCHEMA)


def nte_airport(spark: SparkSession) -> DataFrame:
    """Seed meta.airports LFRS row (create_meta_schema.sql:40-52,243)."""
    rows = [
        (
            "LFRS",
            "NTE",
            "Nantes Atlantique",
            "Nantes",
            -1.607778,
            47.156944,
            27.0,
            "France",
            "fr_FR",
            "Europe/Paris",
            _poly_rows(_NTE_BBOX),
        )
    ]
    return literal_dim(spark, rows, AIRPORT_SCHEMA)


# ---------------------------------------------------------------------------
# meta.range_rings seed (create_meta_schema.sql:144-149): concentric
# distance rings around the airport for QGIS range display.  The
# reference loads them externally (no generator in the repo); ours are
# generated deterministically — N-point circles in WGS84, radius in km,
# each ring one closed MultiLineString part.
# ---------------------------------------------------------------------------

# derived from the SAME per-degree constants the runway/bbox geometry
# uses (one source of truth, two unit systems would drift)
_KM_PER_DEG_LAT = _M_PER_DEG_LAT / 1000.0
_KM_PER_DEG_LON_EQ = _M_PER_DEG_LON_EQ / 1000.0


def range_ring_vertices(
    clon: float, clat: float, radius_km: float, points: int = 36
) -> list[dict]:
    """Closed circle ring (first vertex repeated last), WGS84 degrees."""
    import math

    lat_rad = math.radians(clat)
    out = []
    for k in range(points + 1):
        theta = 2.0 * math.pi * (k % points) / points
        lon = clon + (radius_km / (_KM_PER_DEG_LON_EQ * math.cos(lat_rad))) * math.cos(theta)
        lat = clat + (radius_km / _KM_PER_DEG_LAT) * math.sin(theta)
        out.append({"lon": lon, "lat": lat})
    return out


NTE_RING_RADII_KM = (5.0, 10.0, 25.0, 50.0)


def nte_range_rings(spark: SparkSession) -> DataFrame:
    """Seed meta.range_rings: one MultiLineString (single closed part,
    36 points) per radius around LFRS."""
    from ..schemas import RANGE_RING_SCHEMA

    rows = [
        (i + 1, r, "LFRS", [range_ring_vertices(-1.607778, 47.156944, r)])
        for i, r in enumerate(NTE_RING_RADII_KM)
    ]
    return literal_dim(spark, rows, RANGE_RING_SCHEMA)
