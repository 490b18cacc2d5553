"""Declared schemas (no inference anywhere — parity with the reference's
SQLAlchemy models / DDL, see SURVEY.md §1.2).

Reference evidence:
- message fields: /root/reference/src/dump1090_postgis/adsb_parser.py:176-219
- dimension tables: /root/reference/database/sql/create_meta_schema.sql:40-184

Geometry mapping: the reference stores PostGIS POINTZ / Polygon
(SRID 4326).  Spark has no native geo type, so a position is a struct
(lon, lat, alt_m) and a polygon is an array<struct<lon,lat>> — WGS84
implied, altitude in meters (ft→m at parse time, shared.py:5-7).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# SBS-1 wire format: 22 comma-separated fields per line.
# Field order per adsb_parser.py:176-195 (named regex groups).
# ---------------------------------------------------------------------------

SBS1_FIELDS = [
    "message_type",        # literal "MSG"
    "transmission_type",   # 1-8
    "session",
    "aircraft",
    "hexident",
    "flight",
    "gen_date",
    "gen_time",
    "log_date",
    "log_time",
    "callsign",
    "altitude",            # feet
    "speed",               # knots
    "track",
    "latitude",
    "longitude",
    "verticalrate",        # ft/min
    "squawk",
    "alert",
    "emergency",
    "spi",
    "onground",            # wire: -1 = true, 0 = false
]

N_SBS1_FIELDS = len(SBS1_FIELDS)  # 22 — the malformed-line gate (SRC-3)

# ---------------------------------------------------------------------------
# Dimension tables (create_meta_schema.sql, read via SRC-4 CSV loaders)
# ---------------------------------------------------------------------------

AIRLINE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType(), True),
        T.StructField("name", T.StringType(), True),
        T.StructField("alias", T.StringType(), True),
        T.StructField("iata", T.StringType(), True),
        T.StructField("icao", T.StringType(), True),  # 3-char join key (JOIN-2)
        T.StructField("callsign", T.StringType(), True),
        T.StructField("country", T.StringType(), True),
        T.StructField("active", T.StringType(), True),
    ]
)

COUNTRY_SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType(), True),
        T.StructField("code", T.StringType(), True),
        T.StructField("name", T.StringType(), True),
        T.StructField("continent", T.StringType(), True),
        T.StructField("wikipedia_link", T.StringType(), True),
        T.StructField("keywords", T.StringType(), True),
    ]
)

POINT2D = T.StructType(
    [
        T.StructField("lon", T.DoubleType(), False),
        T.StructField("lat", T.DoubleType(), False),
    ]
)

RUNWAY_SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType(), False),
        T.StructField("airport_icao", T.StringType(), False),
        T.StructField("name", T.StringType(), False),       # '03', '21', ...
        T.StructField("direction", T.IntegerType(), False),  # deg rel. north
        T.StructField("length", T.DoubleType(), True),
        T.StructField("polygon", T.ArrayType(POINT2D), False),
    ]
)

AIRPORT_SCHEMA = T.StructType(
    [
        T.StructField("icao", T.StringType(), False),
        T.StructField("iata", T.StringType(), True),
        T.StructField("name", T.StringType(), True),
        T.StructField("city", T.StringType(), True),
        T.StructField("lon", T.DoubleType(), True),
        T.StructField("lat", T.DoubleType(), True),
        T.StructField("altitude", T.DoubleType(), True),
        T.StructField("country", T.StringType(), True),
        T.StructField("locale", T.StringType(), True),
        T.StructField("timezone", T.StringType(), True),
        T.StructField("bbox", T.ArrayType(POINT2D), True),
    ]
)

# meta.range_rings (create_meta_schema.sql:144-149): MultiLineString
# geometry → array of line parts, each an array of (lon,lat) vertices.
RANGE_RING_SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType(), False),
        T.StructField("radius", T.DoubleType(), False),   # km
        T.StructField("icao", T.StringType(), False),
        T.StructField("geom", T.ArrayType(T.ArrayType(POINT2D)), False),
    ]
)

# ---------------------------------------------------------------------------
# Driver testdata tables (TESTDATA.md)
# ---------------------------------------------------------------------------

TESTDATA_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


# Columns written as parquet TIMESTAMP(NANOS) — Spark rejects these
# unless spark.sql.legacy.parquet.nanosAsLong is on; we read them as
# int64 nanoseconds and convert to TIMESTAMP_NTZ (micros, matching
# DuckDB's truncation of the same files).
_NANOS_TS_COLS = {"events": ["ts"]}


def table_rows(sf_dir: str, name: str) -> int | None:
    """Exact row count of one testdata parquet table from its FOOTER
    metadata — a driver-side read of a few KiB, zero Spark jobs.

    This is the registry-side source for the ``corpus_rows`` hints the
    size-gated operators accept (round-10 verdict #3): each of them
    picks its engine from the corpus size, and the pipeline that owns
    the data KNOWS that size, so the cost-model gates should never
    have to schedule even a bounded probe job.  The same
    calling convention scales to 100 TB — a production catalog serves
    the count; here the parquet footer is that catalog.  Returns None
    when the footer can't be read (caller falls back to the operator's
    own hint→stats→probe chain).
    """
    import os

    path = f"{sf_dir}/{name}.parquet"
    if path in _TABLE_ROWS_CACHE:
        return _TABLE_ROWS_CACHE[path]
    try:
        import pyarrow.parquet as pq

        if os.path.isdir(path):
            # directory-of-parts, including Hive-partitioned
            # (date=.../part-*.parquet) layouts: walk RECURSIVELY, and
            # a directory with no part files at any depth is None
            # (unknown), NOT 0 — a cached 0 would feed auto-k n=0 at
            # every hinted call site, which is exactly the wrong-hint
            # failure the contract forbids.
            parts = [
                os.path.join(root, f)
                for root, _dirs, files in os.walk(path)
                for f in files
                if f.endswith(".parquet")
            ]
            n = (
                sum(int(pq.read_metadata(p).num_rows) for p in parts)
                if parts
                else None
            )
        else:
            n = int(pq.read_metadata(path).num_rows)
    except Exception:
        n = None
    _TABLE_ROWS_CACHE[path] = n
    return n


#: table_rows footer cache — testdata files are immutable per run.
_TABLE_ROWS_CACHE: dict[str, int | None] = {}


def load_table(spark, sf_dir: str, name: str, ts_range=None):
    """Read one driver-generated parquet table (predicate/column pushdown
    comes free from the parquet scan).

    Also pins the session timezone to UTC so timestamp_ntz conversions
    are wall-clock stable regardless of the host JVM timezone.

    ``ts_range=(lo, hi)`` (UTC datetimes or ISO strings, half-open):
    the derived timestamp column blocks predicate pushdown (Catalyst
    cannot invert the nanos conversion), so range filters on converted
    timestamps scan every row group.  This applies the equivalent
    predicate on the RAW int64-nanos column BEFORE conversion, where it
    reaches the parquet reader and prunes row groups via min/max stats.
    """
    import datetime as _dt

    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")

    def _utc_naive(v) -> "_dt.datetime":
        # tz-aware bounds (the docstring invites UTC datetimes and ISO
        # strings with offsets): normalize to naive UTC — subtracting
        # the naive epoch from an aware datetime raises TypeError, and
        # an epoch carrying v's own tzinfo would shift non-UTC offsets.
        # ONE normalization for BOTH storage layouts: the native-
        # timestamp branch used to cast offset-bearing STRINGS by their
        # wall-clock fields (offset ignored), so the two parquet
        # layouts pruned different ranges for the same bound
        # (round-10 advisor).
        if isinstance(v, str):
            v = _dt.datetime.fromisoformat(v)
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v

    def _nanos(v) -> int:
        v = _utc_naive(v)
        epoch = _dt.datetime(1970, 1, 1)
        # integer microseconds via timedelta floor-division:
        # total_seconds()*1e6 is float and converts ~1.2% of
        # fractional-microsecond bounds 1 µs low, silently moving the
        # half-open boundary
        return ((v - epoch) // _dt.timedelta(microseconds=1)) * 1000

    applied = ts_range is None
    for col in _NANOS_TS_COLS.get(name, []):
        dt = dict(df.dtypes).get(col)
        if dt == "bigint":
            # raw int64-nanos layout: literal nanos prefilter reaches
            # the parquet reader (the converted column would block
            # pushdown), then convert
            if ts_range is not None:
                lo, hi = ts_range
                df = df.filter(
                    (F.col(col) >= F.lit(_nanos(lo)))
                    & (F.col(col) < F.lit(_nanos(hi)))
                )
                applied = True
            df = df.withColumn(
                col,
                F.expr(f"cast(timestamp_micros({col} div 1000) as timestamp_ntz)"),
            )
        elif dt in ("timestamp", "timestamp_ntz") and ts_range is not None:
            # native timestamp layout (current driver testdata stores
            # micros): timestamp literals push down directly.  Without
            # this branch a requested range was a SILENT NO-OP — every
            # caller got the full table while believing it was pruned.
            lo, hi = ts_range
            df = df.filter(
                (F.col(col) >= F.lit(_utc_naive(lo)).cast(dt))
                & (F.col(col) < F.lit(_utc_naive(hi)).cast(dt))
            )
            applied = True
    if not applied:
        # a requested range that matched no timestamp column would
        # silently return EVERY row — fail loudly instead
        raise ValueError(
            f"ts_range given but table {name!r} has no timestamp column "
            f"to filter ({_NANOS_TS_COLS.get(name, [])} not present) — "
            "filter the returned frame instead"
        )
    return df
