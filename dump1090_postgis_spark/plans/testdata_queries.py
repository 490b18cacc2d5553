"""SURVEY §2 operator inventory expressed over the driver testdata
tables, each entry paired with an ANSI-SQL DuckDB oracle.

The reference's domain is ADS-B (hexident/time/altitude/onground); the
driver's `events` table is the stand-in stream: ``user_id`` plays the
session key (hexident), ``ts`` the event time, ``value`` the measured
quantity (altitude analog), ``event_type`` the categorical signal
(``'purchase'`` doubles as the onground flag for edge detection).

Output-hash discipline (driver compares row count + columns +
order-insensitive value hash between Spark and DuckDB):
- no raw timestamp columns — always `yyyy-MM-dd HH:mm:ss` strings or
  epoch micros bigints (parquet nanos ≠ micros pitfalls);
- no order-sensitive float aggregates — money sums leave as bigint
  cents (the true sums sit on the 2-decimal grid, so cents-rounding is
  stable under either engine's summation order);
- list aggregates leave as sorted CSV strings.

Every Spark function is pure DataFrame API (whole-stage codegen;
broadcast hints on dim joins) and loads via schemas.load_table (nanos
handling + UTC session pin).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..schemas import load_table
from ..functions.timeutil import to_local
from ..operators.histogram import events_histogram
from ..operators.peak_hour import sliding_hour_counts
from ..operators.sessionize import sessionize

# ---------------------------------------------------------------------------
# helpers (Spark side)
# ---------------------------------------------------------------------------


def _fmt(c) -> F.Column:
    """Timestamp → 'yyyy-MM-dd HH:mm:ss' string (sub-second truncated)."""
    return F.date_format(c.cast("timestamp"), "yyyy-MM-dd HH:mm:ss")


def _ev(spark: SparkSession, sf: str) -> DataFrame:
    return load_table(spark, sf, "events")


# ORACLE helper (DuckDB side): format string equivalent
_OFMT = "strftime({c}, '%Y-%m-%d %H:%M:%S')"


# ---------------------------------------------------------------------------
# FLT — filters (SURVEY §2.2)
# ---------------------------------------------------------------------------


def q_flt1_value_band(spark, sf):
    """FLT-1 altitude-band filter analog (adsb_parser.py:294-357)."""
    return (
        _ev(spark, sf)
        .filter((F.col("value") > 10.0) & (F.col("value") < 180.0))
        .select("event_id", "user_id", "value")
    )


SQL_FLT1 = """
SELECT event_id, user_id, value FROM events WHERE value > 10.0 AND value < 180.0
"""


def q_flt5_events_on_day(spark, sf):
    """FLT-5 landings_on(date) analog (create_public_schema.sql:331-339):
    time >= d AND time < d+1, ordered by time."""
    d = F.lit("2024-01-15").cast("date")
    # raw-nanos prefilter reaches the parquet scan (the converted
    # timestamp column blocks pushdown); exact predicate still applied
    ev = load_table(spark, sf, "events",
                    ts_range=("2024-01-15", "2024-01-16"))
    return (
        ev.filter(
            (F.col("ts") >= d.cast("timestamp_ntz"))
            & (F.col("ts") < F.date_add(d, 1).cast("timestamp_ntz"))
        )
        .orderBy("ts")
        .select("event_id", _fmt(F.col("ts")).alias("ts_s"), "user_id", "event_type")
    )


SQL_FLT5 = f"""
SELECT event_id, {_OFMT.format(c='ts')} AS ts_s, user_id, event_type
FROM events
WHERE ts >= DATE '2024-01-15' AND ts < DATE '2024-01-15' + 1
ORDER BY ts
"""


def q_flt6_fromto_paris(spark, sf):
    """FLT-6 takeoffs_fromto analog (create_materialized_views.sql:3-46):
    range filter on Europe/Paris local dates."""
    # superset UTC prefilter (Paris is UTC+1 in January); the exact
    # local-date predicate below is unchanged
    ev = load_table(spark, sf, "events",
                    ts_range=("2024-01-09", "2024-01-21"))
    local = to_local(F.col("ts").cast("timestamp_ntz"), "Europe/Paris")
    return (
        ev.filter(
            (F.to_date(local) >= F.lit("2024-01-10").cast("date"))
            & (F.to_date(local) < F.lit("2024-01-20").cast("date"))
        )
        .select("event_id", _fmt(F.col("ts")).alias("ts_s"))
    )


SQL_FLT6 = f"""
SELECT event_id, {_OFMT.format(c='ts')} AS ts_s
FROM events
WHERE CAST(timezone('Europe/Paris', timezone('UTC', ts)) AS DATE) >= DATE '2024-01-10'
  AND CAST(timezone('Europe/Paris', timezone('UTC', ts)) AS DATE) <  DATE '2024-01-20'
"""


# ---------------------------------------------------------------------------
# AGG-1 + JOIN-3 — zero-filled histograms
# ---------------------------------------------------------------------------


def q_agg1_histogram_hour_utc(spark, sf):
    """AGG-1/JOIN-3 events_histogram (create_public_schema.sql:182-200)."""
    ev = load_table(spark, sf, "events",
                    ts_range=("2024-01-05", "2024-01-12 01:00:00"))
    h = events_histogram(
        ev, "2024-01-05 00:00:00", "2024-01-12 00:00:00", "hour",
        ts="ts", id_col="event_id",
    )
    return h.select(
        _fmt(F.col("interval")).alias("bin_start"),
        F.col("events"),
        F.array_join(F.transform(F.col("ids"), lambda x: x.cast("string")), ",").alias("ids_csv"),
    )


SQL_AGG1_HOUR = f"""
WITH axis AS (
  SELECT unnest(generate_series(date_trunc('hour', TIMESTAMP '2024-01-05 00:00:00'),
                                date_trunc('hour', TIMESTAMP '2024-01-12 00:00:00'),
                                INTERVAL 1 HOUR)) AS interval
), binned AS (
  SELECT date_trunc('hour', ts) AS interval,
         count(event_id) AS events,
         array_to_string(list_sort(list(event_id)), ',') AS ids_csv
  FROM events
  WHERE ts >= date_trunc('hour', TIMESTAMP '2024-01-05 00:00:00')
    AND ts < date_trunc('hour', TIMESTAMP '2024-01-12 00:00:00') + INTERVAL 1 HOUR
  GROUP BY 1
)
SELECT {_OFMT.format(c='axis.interval')} AS bin_start,
       COALESCE(binned.events, 0)::BIGINT AS events,
       COALESCE(binned.ids_csv, '') AS ids_csv
FROM axis LEFT OUTER JOIN binned ON axis.interval = binned.interval
ORDER BY axis.interval
"""


def q_agg1_histogram_day_paris(spark, sf):
    """AGG-1 Europe/Paris local-day variant
    (create_public_schema.sql:286-307)."""
    ev = load_table(spark, sf, "events",
                    ts_range=("2023-12-30", "2024-02-01"))
    h = events_histogram(
        ev, "2024-01-01 00:00:00", "2024-01-31 00:00:00", "day",
        ts="ts", id_col="event_id", tz="Europe/Paris",
    )
    return h.select(
        _fmt(F.col("interval")).alias("bin_start"),
        F.col("events"),
        F.array_join(F.transform(F.col("ids"), lambda x: x.cast("string")), ",").alias("ids_csv"),
    )


SQL_AGG1_PARIS = f"""
WITH loc AS (
  SELECT event_id, timezone('Europe/Paris', timezone('UTC', ts)) AS lts
  FROM events
), bounds AS (
  SELECT timezone('Europe/Paris', timezone('UTC', TIMESTAMP '2024-01-01 00:00:00')) AS lo,
         timezone('Europe/Paris', timezone('UTC', TIMESTAMP '2024-01-31 00:00:00')) AS hi
), axis AS (
  SELECT unnest(generate_series(date_trunc('day', (SELECT lo FROM bounds)),
                                date_trunc('day', (SELECT hi FROM bounds)),
                                INTERVAL 1 DAY)) AS interval
), binned AS (
  SELECT date_trunc('day', lts) AS interval,
         count(event_id) AS events,
         array_to_string(list_sort(list(event_id)), ',') AS ids_csv
  FROM loc
  WHERE lts >= date_trunc('day', (SELECT lo FROM bounds))
    AND lts < date_trunc('day', (SELECT hi FROM bounds)) + INTERVAL 1 DAY
  GROUP BY 1
)
SELECT {_OFMT.format(c='axis.interval')} AS bin_start,
       COALESCE(binned.events, 0)::BIGINT AS events,
       COALESCE(binned.ids_csv, '') AS ids_csv
FROM axis LEFT OUTER JOIN binned ON axis.interval = binned.interval
ORDER BY axis.interval
"""


# ---------------------------------------------------------------------------
# AGG-2/3/4 — sliding window + peak hour
# ---------------------------------------------------------------------------


def q_agg1_histogram_week_utc(spark, sf):
    """AGG-1 week-bin variant (bin ∈ {hour,day,week,month,year},
    create_public_schema.sql:189 CONCAT('1 ', bin)::interval)."""
    ev = _ev(spark, sf)
    h = events_histogram(
        ev, "2024-01-01 00:00:00", "2024-01-30 00:00:00", "week",
        ts="ts", id_col="event_id",
    )
    return h.select(
        _fmt(F.col("interval")).alias("bin_start"),
        F.col("events"),
    )


SQL_AGG1_WEEK = f"""
WITH axis AS (
  SELECT unnest(generate_series(date_trunc('week', TIMESTAMP '2024-01-01 00:00:00')::TIMESTAMP,
                                date_trunc('week', TIMESTAMP '2024-01-30 00:00:00')::TIMESTAMP,
                                INTERVAL 1 WEEK)) AS interval
), binned AS (
  SELECT date_trunc('week', ts)::TIMESTAMP AS interval, count(event_id) AS events
  FROM events
  WHERE ts >= date_trunc('week', TIMESTAMP '2024-01-01 00:00:00')
    AND ts < date_trunc('week', TIMESTAMP '2024-01-30 00:00:00') + INTERVAL 1 WEEK
  GROUP BY 1
)
SELECT {_OFMT.format(c='axis.interval')} AS bin_start,
       COALESCE(binned.events, 0)::BIGINT AS events
FROM axis LEFT OUTER JOIN binned ON axis.interval = binned.interval
ORDER BY axis.interval
"""


def q_agg1_histogram_noids(spark, sf):
    """AGG-1 scale variant: include_ids=False drops the per-bin
    array_agg — pure count aggregate with constant-size rows (the
    parity-bound id list makes one giant row per hot bin at 100×
    scale)."""
    ev = load_table(spark, sf, "events",
                    ts_range=("2024-01-05", "2024-01-12 01:00:00"))
    h = events_histogram(
        ev, "2024-01-05 00:00:00", "2024-01-12 00:00:00", "hour",
        ts="ts", id_col="event_id", include_ids=False,
    )
    return h.select(
        _fmt(F.col("interval")).alias("bin_start"),
        F.col("events"),
    )


SQL_AGG1_NOIDS = f"""
WITH axis AS (
  SELECT unnest(generate_series(date_trunc('hour', TIMESTAMP '2024-01-05 00:00:00'),
                                date_trunc('hour', TIMESTAMP '2024-01-12 00:00:00'),
                                INTERVAL 1 HOUR)) AS interval
), binned AS (
  SELECT date_trunc('hour', ts) AS interval, count(event_id) AS events
  FROM events
  WHERE ts >= date_trunc('hour', TIMESTAMP '2024-01-05 00:00:00')
    AND ts < date_trunc('hour', TIMESTAMP '2024-01-12 00:00:00') + INTERVAL 1 HOUR
  GROUP BY 1
)
SELECT {_OFMT.format(c='axis.interval')} AS bin_start,
       COALESCE(binned.events, 0)::BIGINT AS events
FROM axis LEFT OUTER JOIN binned ON axis.interval = binned.interval
ORDER BY axis.interval
"""


def q_agg5_paths_selected(spark, sf):
    """AGG-5 flight_paths(bigint[]) analog
    (create_public_schema.sql:243-257): ordered per-key paths for an id
    list — one pushed-down IN filter + one groupBy, not a per-id loop."""
    ev = _ev(spark, sf).filter(F.col("user_id").isin(1, 2, 3))
    pt = F.concat(
        F.lit("["),
        F.col("value").cast("decimal(12,2)").cast("string"),
        F.lit(","),
        F.col("event_id").cast("string"),
        F.lit("]"),
    )
    ordered = F.array_sort(
        F.collect_list(F.struct(F.col("ts").alias("t"), F.col("event_id").alias("i"), pt.alias("p")))
    )
    return ev.groupBy("user_id").agg(
        F.array_join(F.transform(ordered, lambda s: s["p"]), ",").alias("path_csv")
    )


SQL_AGG5_SELECTED = """
SELECT user_id,
       string_agg('[' || CAST(CAST(value AS DECIMAL(12,2)) AS VARCHAR) || ',' ||
                  CAST(event_id AS VARCHAR) || ']', ',' ORDER BY ts, event_id) AS path_csv
FROM events WHERE user_id IN (1, 2, 3)
GROUP BY user_id
"""


def q_agg2_sliding_hour_counts(spark, sf):
    """AGG-2 trailing-hour sliding count
    (create_public_schema.sql:352-372)."""
    ev = _ev(spark, sf).select("event_id", "ts")
    counted = sliding_hour_counts(ev, ts="ts")
    return counted.select("event_id", F.col("events").alias("trailing_events"))


SQL_AGG2 = """
SELECT event_id,
       count(*) OVER (ORDER BY ts RANGE BETWEEN INTERVAL 1 HOUR PRECEDING
                      AND CURRENT ROW)::BIGINT AS trailing_events
FROM events
"""


def q_agg3_peak_hour_paris(spark, sf):
    """AGG-2+3+4 peak_hour_all analog: top trailing-hour window per
    Europe/Paris day (create_public_schema.sql:344-372)."""
    from ..operators.peak_hour import peak_hour

    ev = _ev(spark, sf).select("ts")
    pk = peak_hour(ev, ts="ts", tz="Europe/Paris")
    return pk.select(
        F.col("day").cast("string").alias("day"),
        _fmt(F.col("peak_hour")).alias("peak_hour"),
        F.col("events"),
    )


SQL_AGG3 = f"""
WITH counted AS (
  SELECT ts,
         count(*) OVER (ORDER BY ts RANGE BETWEEN INTERVAL 1 HOUR PRECEDING
                        AND CURRENT ROW) AS events,
         date_trunc('minute', ts - INTERVAL 30 MINUTE) AS peak_hour
  FROM events
), ranked AS (
  SELECT CAST(CAST(timezone('Europe/Paris', timezone('UTC', peak_hour)) AS DATE) AS VARCHAR) AS day,
         {_OFMT.format(c='peak_hour')} AS peak_hour,
         events::BIGINT AS events,
         row_number() OVER (
           PARTITION BY CAST(timezone('Europe/Paris', timezone('UTC', peak_hour)) AS DATE)
           ORDER BY events DESC, peak_hour DESC) AS rnmax
  FROM counted
)
SELECT day, peak_hour, events FROM ranked WHERE rnmax = 1
ORDER BY events DESC, peak_hour DESC
"""


# ---------------------------------------------------------------------------
# DST boundaries — registry-visible twins of tests/test_dst.py
# ---------------------------------------------------------------------------
# The driver testdata spans only January 2024, so no parquet-backed
# query ever crosses a Europe/Paris DST transition (SURVEY §7's
# "killer edge case").  These two entries generate their event frames
# IN-PLAN via sequence() — identically reproducible in DuckDB with
# generate_series + row_number — so the spring-forward gap hour
# (2024-03-31 02:xx does not exist) and the fall-back repeated hour
# (2024-10-27 02:xx happens twice) are VALUE-HASH-checked every round,
# driver data notwithstanding.


def _dst_ticks(spark, start: str, end: str, step: str, id_offset: int):
    """(event_id, ts) rows every `step` from start..end INCLUSIVE —
    Spark sequence() and DuckDB generate_series share the inclusive-
    end convention, and ids are grid positions, so both engines build
    the identical frame."""
    return spark.range(1).select(
        F.posexplode(
            F.sequence(
                F.lit(start).cast("timestamp_ntz"),
                F.lit(end).cast("timestamp_ntz"),
                F.expr(f"INTERVAL {step}"),
            )
        ).alias("pos", "ts")
    ).select((F.lit(id_offset) + F.col("pos")).alias("event_id"), "ts")


_SQL_DST_TICKS = """
  SELECT {off} + row_number() OVER (ORDER BY ts) - 1 AS event_id, ts
  FROM (SELECT unnest(generate_series(TIMESTAMP '{start}',
                                      TIMESTAMP '{end}',
                                      INTERVAL {step})) AS ts)
"""


def q_dst_histogram_hour_paris(spark, sf):
    """AGG-1/JOIN-3 across both 2024 Europe/Paris DST transitions:
    quarter-hour events binned into local hours.  Spring: the 02:00
    wall-clock axis bin exists but no instant maps into it (must
    zero-fill); fall: two UTC hours fold into the 02:00 bin (must
    carry both hours' ids).  `sf` is unused by design — the frame is
    synthetic so the transition is checkable on January-only data."""
    spring = _dst_ticks(
        spark, "2024-03-30 23:00:00", "2024-03-31 03:45:00", "15 MINUTES", 0
    )
    fall = _dst_ticks(
        spark, "2024-10-26 22:00:00", "2024-10-27 02:45:00", "15 MINUTES", 1000
    )

    def hist(frame, phase, starts, ends):
        h = events_histogram(
            frame, starts, ends, "hour", ts="ts", id_col="event_id",
            tz="Europe/Paris",
        )
        return h.select(
            F.lit(phase).alias("phase"),
            _fmt(F.col("interval")).alias("bin_start"),
            F.col("events"),
            F.array_join(
                F.transform(F.col("ids"), lambda x: x.cast("string")), ","
            ).alias("ids_csv"),
        )

    return hist(
        spring, "spring", "2024-03-31 00:00:00", "2024-03-31 03:00:00"
    ).unionAll(
        hist(fall, "fall", "2024-10-26 22:00:00", "2024-10-27 02:00:00")
    )


def _sql_dst_hist(phase: str, frame_sql: str, starts: str, ends: str) -> str:
    return f"""
SELECT '{phase}' AS phase, h.* FROM (
  WITH ev AS ({frame_sql}), loc AS (
    SELECT event_id, timezone('Europe/Paris', timezone('UTC', ts)) AS lts
    FROM ev
  ), bounds AS (
    SELECT timezone('Europe/Paris', timezone('UTC', TIMESTAMP '{starts}')) AS lo,
           timezone('Europe/Paris', timezone('UTC', TIMESTAMP '{ends}')) AS hi
  ), axis AS (
    SELECT unnest(generate_series(date_trunc('hour', (SELECT lo FROM bounds)),
                                  date_trunc('hour', (SELECT hi FROM bounds)),
                                  INTERVAL 1 HOUR)) AS interval
  ), binned AS (
    SELECT date_trunc('hour', lts) AS interval,
           count(event_id) AS events,
           array_to_string(list_sort(list(event_id)), ',') AS ids_csv
    FROM loc
    WHERE lts >= date_trunc('hour', (SELECT lo FROM bounds))
      AND lts < date_trunc('hour', (SELECT hi FROM bounds)) + INTERVAL 1 HOUR
    GROUP BY 1
  )
  SELECT {_OFMT.format(c='axis.interval')} AS bin_start,
         COALESCE(binned.events, 0)::BIGINT AS events,
         COALESCE(binned.ids_csv, '') AS ids_csv
  FROM axis LEFT OUTER JOIN binned ON axis.interval = binned.interval
) h
"""


SQL_DST_HIST = (
    _sql_dst_hist(
        "spring",
        _SQL_DST_TICKS.format(
            off=0, start="2024-03-30 23:00:00", end="2024-03-31 03:45:00",
            step="15 MINUTE",
        ),
        "2024-03-31 00:00:00",
        "2024-03-31 03:00:00",
    )
    + "\nUNION ALL\n"
    + _sql_dst_hist(
        "fall",
        _SQL_DST_TICKS.format(
            off=1000, start="2024-10-26 22:00:00", end="2024-10-27 02:45:00",
            step="15 MINUTE",
        ),
        "2024-10-26 22:00:00",
        "2024-10-27 02:00:00",
    )
)


def q_dst_peak_hour_paris(spark, sf):
    """AGG-2/3/4 across both DST transitions: a 12-events-in-12-minutes
    burst in each transition night over a 20-minute background drip.
    Fall-back: the burst ends UTC 2024-10-26 23:4x = local 01:4x CEST
    on the 27th — the top-1-per-LOCAL-day partition must attribute it
    to the 27th although its UTC date is the 26th.  Spring: the
    burst's local label lands in the nonexistent 02:xx gap — ICU (both
    engines) resolves it; parity is the assertion of record."""
    frames = [
        # (start, end, step, id_offset)
        ("2024-10-26 17:30:00", "2024-10-27 05:10:00", "20 MINUTES", 0),
        ("2024-10-26 23:30:30", "2024-10-26 23:41:30", "1 MINUTE", 5000),
        ("2024-03-30 18:30:00", "2024-03-31 06:10:00", "20 MINUTES", 10000),
        ("2024-03-31 00:30:30", "2024-03-31 00:41:30", "1 MINUTE", 15000),
    ]
    ev = None
    for start, end, step, off in frames:
        part = _dst_ticks(spark, start, end, step, off).select("ts")
        ev = part if ev is None else ev.unionAll(part)
    from ..operators.peak_hour import peak_hour

    pk = peak_hour(ev, ts="ts", tz="Europe/Paris")
    return pk.select(
        F.col("day").cast("string").alias("day"),
        _fmt(F.col("peak_hour")).alias("peak_hour"),
        F.col("events"),
    )


SQL_DST_PEAK = f"""
WITH ev AS (
  {_SQL_DST_TICKS.format(off=0, start="2024-10-26 17:30:00", end="2024-10-27 05:10:00", step="20 MINUTE")}
  UNION ALL
  {_SQL_DST_TICKS.format(off=5000, start="2024-10-26 23:30:30", end="2024-10-26 23:41:30", step="1 MINUTE")}
  UNION ALL
  {_SQL_DST_TICKS.format(off=10000, start="2024-03-30 18:30:00", end="2024-03-31 06:10:00", step="20 MINUTE")}
  UNION ALL
  {_SQL_DST_TICKS.format(off=15000, start="2024-03-31 00:30:30", end="2024-03-31 00:41:30", step="1 MINUTE")}
), counted AS (
  SELECT ts,
         count(*) OVER (ORDER BY ts RANGE BETWEEN INTERVAL 1 HOUR PRECEDING
                        AND CURRENT ROW) AS events,
         date_trunc('minute', ts - INTERVAL 30 MINUTE) AS peak_hour
  FROM ev
), ranked AS (
  SELECT CAST(CAST(timezone('Europe/Paris', timezone('UTC', peak_hour)) AS DATE) AS VARCHAR) AS day,
         {_OFMT.format(c='peak_hour')} AS peak_hour,
         events::BIGINT AS events,
         row_number() OVER (
           PARTITION BY CAST(timezone('Europe/Paris', timezone('UTC', peak_hour)) AS DATE)
           ORDER BY events DESC, peak_hour DESC) AS rnmax
  FROM counted
)
SELECT day, peak_hour, events FROM ranked WHERE rnmax = 1
ORDER BY events DESC, peak_hour DESC
"""


# ---------------------------------------------------------------------------
# SET-1, AGG-7, AGG-8
# ---------------------------------------------------------------------------


def q_set1_union_distinct(spark, sf):
    """SET-1 (create_public_schema.sql:364): SQL UNION = dedup —
    Spark union is UNION ALL, .distinct() required for parity."""
    ev = _ev(spark, sf)
    a = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.to_date("ts").cast("string").alias("day")
    )
    b = ev.filter(F.col("event_type") == "error").select(
        "user_id", F.to_date("ts").cast("string").alias("day")
    )
    return a.unionByName(b).distinct()


SQL_SET1 = """
SELECT user_id, CAST(CAST(ts AS DATE) AS VARCHAR) AS day FROM events WHERE event_type = 'purchase'
UNION
SELECT user_id, CAST(CAST(ts AS DATE) AS VARCHAR) AS day FROM events WHERE event_type = 'error'
"""


def q_agg7_distinct_pairs(spark, sf):
    """AGG-7 SELECT DISTINCT (create_materialized_views.sql:53,67)."""
    return _ev(spark, sf).select("user_id", "event_type").distinct()


SQL_AGG7 = "SELECT DISTINCT user_id, event_type FROM events"


def q_agg8_active_sessions(spark, sf):
    """AGG-8 pool-size gauge (flights.py:58-59): sessions whose last
    event falls within the 1 h before the probe instant."""
    ev = _ev(spark, sf)
    probe = F.lit("2024-01-15 12:00:00").cast("timestamp_ntz")
    return (
        ev.groupBy("user_id")
        .agg(F.max(F.when((F.col("ts") <= probe), F.col("ts"))).alias("last_seen"))
        .filter(
            F.col("last_seen").isNotNull()
            & (F.col("last_seen") >= probe - F.expr("INTERVAL 1 HOUR"))
        )
        .agg(F.count(F.lit(1)).alias("active_sessions"))
    )


SQL_AGG8 = """
SELECT count(*)::BIGINT AS active_sessions FROM (
  SELECT user_id, max(ts) FILTER (ts <= TIMESTAMP '2024-01-15 12:00:00') AS last_seen
  FROM events GROUP BY user_id
) WHERE last_seen IS NOT NULL
  AND last_seen >= TIMESTAMP '2024-01-15 12:00:00' - INTERVAL 1 HOUR
"""


# ---------------------------------------------------------------------------
# JOIN-1/2/4/5
# ---------------------------------------------------------------------------


def q_join1_events_per_customer(spark, sf):
    """JOIN-1 FK equi join (flights ⋈ positions analog), with a
    map-side-combinable aggregate; money leaves as bigint cents."""
    ev = _ev(spark, sf)
    cust = load_table(spark, sf, "customer")
    return (
        ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey, "inner")
        .groupBy("c_name")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value") * 100).cast("bigint").alias("sum_value_cents"),
        )
    )


SQL_JOIN1 = """
SELECT c_name, count(*)::BIGINT AS n_events,
       CAST(round(sum(value) * 100) AS BIGINT) AS sum_value_cents
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_name
"""


def q_join2_details_star(spark, sf):
    """JOIN-2 event-detail star join (create_graphql_functions.sql:30-104):
    fact ⋈ dim with two broadcast LEFT joins down the snowflake."""
    ev = _ev(spark, sf).alias("e")
    cust = load_table(spark, sf, "customer").alias("c")
    nat = load_table(spark, sf, "nation").alias("n")
    reg = load_table(spark, sf, "region").alias("r")
    return (
        ev.join(F.broadcast(cust), F.col("e.user_id") == F.col("c.c_custkey"), "inner")
        .join(F.broadcast(nat), F.col("c.c_nationkey") == F.col("n.n_nationkey"), "left")
        .join(F.broadcast(reg), F.col("n.n_regionkey") == F.col("r.r_regionkey"), "left")
        .select(
            F.col("e.event_id").alias("event_id"),
            F.col("c.c_name").alias("c_name"),
            F.col("n.n_name").alias("n_name"),
            F.col("r.r_name").alias("r_name"),
        )
    )


SQL_JOIN2 = """
SELECT event_id, c_name, n_name, r_name
FROM events
JOIN customer ON user_id = c_custkey
LEFT JOIN nation ON c_nationkey = n_nationkey
LEFT JOIN region ON n_regionkey = r_regionkey
"""


def q_join4_dedup_latest(spark, sf):
    """JOIN-4 dedup maintenance (maintenance.sql:1-16): keep max id per
    key — ranking window instead of self-join DELETE."""
    from ..operators.dedup import dedup_keep_max_id

    ev = _ev(spark, sf).withColumn("_key", F.concat_ws("|", "user_id", "event_type"))
    kept = dedup_keep_max_id(ev, key="_key", id_col="event_id")
    return kept.select("user_id", "event_type", F.col("event_id").alias("last_event_id"))


SQL_JOIN4 = """
SELECT user_id, event_type, max(event_id) AS last_event_id
FROM events GROUP BY user_id, event_type
"""


def q_join5_runway_attribution(spark, sf):
    """JOIN-5 geometric lookup join (airports.py:90-125) on synthesized
    coordinates: the Spark side runs the engine's ray-casting
    point-in-polygon over a broadcast polygon table; the oracle states
    the same containment as plain range predicates on the
    axis-aligned unit square — an independent formulation."""
    ev = _ev(spark, sf).select(
        "event_id",
        ((F.col("value") % 200) / 100.0 - 0.4995001).alias("px"),
        (((F.col("event_id") * 7) % 200) / 100.0 - 0.4995001).alias("py"),
        (F.col("event_id") % 360).cast("double").alias("heading"),
    )
    square = [{"lon": 0.0, "lat": 0.0}, {"lon": 1.0, "lat": 0.0},
              {"lon": 1.0, "lat": 1.0}, {"lon": 0.0, "lat": 1.0}]
    # literal_dim → LocalRelation: the strategy gate sizes it with
    # ZERO jobs and the polygon compile collects driver-locally (a
    # createDataFrame dim cost ~0.7 s of Python-worker jobs per plan
    # build — the round-7→11 join5 bench constant, bisected round 12)
    from ..sources.dims import literal_dim

    runways = literal_dim(
        spark,
        [("A", 30.0, square), ("B", 210.0, square)],
        "name string, direction double, polygon array<struct<lon:double,lat:double>>",
    )
    from ..operators.attribution import attribute_runway

    out = attribute_runway(
        ev, runways, airport_bbox=None,
        lon="px", lat="py", heading="heading",
    )
    return out.select("event_id", "runway")


SQL_JOIN5 = """
WITH pts AS (
  SELECT event_id,
         (fmod(value, 200) / 100.0 - 0.4995001) AS px,
         (((event_id * 7) % 200) / 100.0 - 0.4995001) AS py,
         CAST(event_id % 360 AS DOUBLE) AS heading
  FROM events
)
SELECT event_id,
       CASE WHEN px > 0 AND px < 1 AND py > 0 AND py < 1
                 AND abs(30.0 - heading) <= 20.0 THEN 'A'
            WHEN px > 0 AND px < 1 AND py > 0 AND py < 1
                 AND abs(210.0 - heading) <= 20.0 THEN 'B'
            ELSE 'UNK' END AS runway
FROM pts
"""


# join5_runway_attribution_grid's dim: enough disjoint unit-square
# runways that n_rw × (1 + n_bboxes) crosses attribution.BRANCH_BUDGET
# (256), so the size gate resolves to the GRID-CELL BROADCAST JOIN —
# the production plan shape a real ourairports-scale dim (42k runways,
# database/csv2db.sh:7-18) takes, which until round 12 had parity
# pytests but no driver CORRECTNESS row (round-11 verdict #1).
_GRID_N_RUNWAYS = 300


def q_join5_runway_attribution_grid(spark, sf):
    """JOIN-5 grid twin (airports.py:90-125 at ourairports scale):
    same synthetic event coordinates as join5_runway_attribution but
    against a 300-runway dim — past the 256-branch compile budget, so
    ``attribute_runway``'s size gate takes the grid-cell
    broadcast-join path (attribution.py): runways bucketed into 0.25°
    cells, events hash-join their own cell's iteration-ordered runway
    array, first-match evaluates as a projection.  Runway i is the
    unit square [2i, 2i+1]×[0,1] (disjoint, so first-match is
    unambiguous and the oracle can state containment arithmetically:
    cell index = floor(px/2)); direction alternates 30°/210° so the
    heading tier stays load-bearing."""
    ev = _ev(spark, sf).select(
        "event_id",
        # id-based generator spans the whole 300-square strip at every
        # sf (value barely exceeds ~400 at sf0.01, which would leave
        # 298 of the 300 cells event-free); the 0.4995001 offset keeps
        # px/py off polygon boundaries (same trick as join5); integer
        # arithmetic up to the division, exact in both engines
        (((F.col("event_id") * 13) % 60000) / 100.0 - 0.4995001).alias("px"),
        (((F.col("event_id") * 7) % 200) / 100.0 - 0.4995001).alias("py"),
        (F.col("event_id") % 360).cast("double").alias("heading"),
    )
    rows = [
        (
            f"R{i:03d}",
            30.0 if i % 2 == 0 else 210.0,
            [
                {"lon": 2.0 * i, "lat": 0.0},
                {"lon": 2.0 * i + 1.0, "lat": 0.0},
                {"lon": 2.0 * i + 1.0, "lat": 1.0},
                {"lon": 2.0 * i, "lat": 1.0},
            ],
        )
        for i in range(_GRID_N_RUNWAYS)
    ]
    from ..sources.dims import literal_dim

    runways = literal_dim(
        spark,
        rows,
        "name string, direction double, "
        "polygon array<struct<lon:double,lat:double>>",
    )
    from ..operators.attribution import attribute_runway

    out = attribute_runway(
        ev, runways, airport_bbox=None,
        lon="px", lat="py", heading="heading",
    )
    return out.select("event_id", "runway")


SQL_JOIN5_GRID = f"""
WITH pts AS (
  SELECT event_id,
         (((event_id * 13) % 60000) / 100.0 - 0.4995001) AS px,
         (((event_id * 7) % 200) / 100.0 - 0.4995001) AS py,
         CAST(event_id % 360 AS DOUBLE) AS heading
  FROM events
), cells AS (
  SELECT event_id, px, py, heading,
         CAST(floor(px / 2) AS BIGINT) AS idx
  FROM pts
)
SELECT event_id,
       CASE WHEN idx >= 0 AND idx < {_GRID_N_RUNWAYS}
                 AND px > 2 * idx AND px < 2 * idx + 1
                 AND py > 0 AND py < 1
                 AND abs(CASE WHEN idx % 2 = 0 THEN 30.0 ELSE 210.0 END
                         - heading) <= 20.0
            THEN 'R' || lpad(CAST(idx AS VARCHAR), 3, '0')
            ELSE 'UNK' END AS runway
FROM cells
"""


def q_snk5_copy_remap(spark, sf):
    """SNK-5 d1090_copy_flight analog
    (create_public_schema.sql:149-172): copy rows with fresh dense ids,
    FK remapped via a broadcast mapping — set-oriented, no loop.

    The unpartitioned row_number runs over the explicitly selected
    copy set only (same bounded-selection contract as the reference
    proc's single-flight argument and as the broadcast of the
    mapping); unbounded frames use operators.ids.with_dense_ids."""
    ev = _ev(spark, sf).filter(F.col("user_id").isin(1, 2, 3))
    mapping = ev.select("event_id").withColumn(
        "new_id", F.row_number().over(Window.orderBy("event_id")) + F.lit(1000000)
    )
    return (
        ev.join(F.broadcast(mapping), "event_id")
        .select(F.col("event_id").alias("old_id"), "new_id", "user_id")
    )


SQL_SNK5 = """
SELECT event_id AS old_id,
       row_number() OVER (ORDER BY event_id) + 1000000 AS new_id,
       user_id
FROM events WHERE user_id IN (1, 2, 3)
"""


# ---------------------------------------------------------------------------
# STATE — sessionization, edges, debounce, intention
# ---------------------------------------------------------------------------

_SESSION_GAP_S = 3600


def q_state1_sessions(spark, sf):
    """STATE-1 batch analog (flights.py:14-137): gap>1h sessions per
    user; one shuffle, summary reuses the partitioning."""
    ev = _ev(spark, sf)
    sess = sessionize(ev, key="user_id", ts="ts", gap_s=_SESSION_GAP_S)
    return sess.groupBy("user_id", "session_id").agg(
        _fmt(F.min("ts")).alias("start_s"),
        _fmt(F.max("ts")).alias("end_s"),
        F.count(F.lit(1)).alias("n_events"),
    )


SQL_STATE1 = f"""
WITH gaps AS (
  SELECT user_id, ts,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {_SESSION_GAP_S}::BIGINT * 1000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sess AS (
  SELECT user_id, ts,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) - 1 AS session_id
  FROM gaps
)
SELECT user_id, session_id::BIGINT AS session_id,
       {_OFMT.format(c='min(ts)')} AS start_s,
       {_OFMT.format(c='max(ts)')} AS end_s,
       count(*)::BIGINT AS n_events
FROM sess GROUP BY user_id, session_id
"""


def q_agg6_session_summaries(spark, sf):
    """AGG-6 per-session running attribute state (models.py:110-216):
    first/last seen, argmax-by-time last value, per-type counters."""
    ev = _ev(spark, sf)
    sess = sessionize(ev, key="user_id", ts="ts", gap_s=_SESSION_GAP_S)
    return sess.groupBy("user_id", "session_id").agg(
        _fmt(F.min("ts")).alias("first_seen"),
        _fmt(F.max("ts")).alias("last_seen"),
        F.count(F.lit(1)).alias("n_messages"),
        F.max_by("event_type", "ts").alias("last_event_type"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("n_purchase"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("n_error"),
    )


SQL_AGG6 = f"""
WITH gaps AS (
  SELECT *,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {_SESSION_GAP_S}::BIGINT * 1000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sess AS (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) - 1 AS session_id
  FROM gaps
)
SELECT user_id, session_id::BIGINT AS session_id,
       {_OFMT.format(c='min(ts)')} AS first_seen,
       {_OFMT.format(c='max(ts)')} AS last_seen,
       count(*)::BIGINT AS n_messages,
       arg_max(event_type, ts) AS last_event_type,
       sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS n_purchase,
       sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS n_error
FROM sess GROUP BY user_id, session_id
"""


def q_state3_edges(spark, sf):
    """STATE-3 edge detection (models.py:218-228): event_type='purchase'
    plays the onground flag; flips are landings/takeoffs."""
    from ..operators.events import detect_onground_edges

    ev = (
        _ev(spark, sf)
        .withColumn("onground", F.col("event_type") == "purchase")
        .drop("event_type")  # detect_onground_edges emits its own
    )
    edges = detect_onground_edges(ev, key_cols=("user_id",), ts="ts")
    return edges.select(
        "user_id",
        _fmt(F.col("ts")).alias("ts_s"),
        F.col("event_type").alias("transition"),
    )


SQL_STATE3 = f"""
WITH flagged AS (
  SELECT user_id, ts, (event_type = 'purchase') AS onground
  FROM events
), lagged AS (
  SELECT user_id, ts, onground,
         lag(onground) OVER (PARTITION BY user_id ORDER BY ts) AS prev_onground
  FROM flagged
)
SELECT user_id, {_OFMT.format(c='ts')} AS ts_s,
       CASE WHEN onground THEN 'landing' ELSE 'takeoff' END AS transition
FROM lagged
WHERE prev_onground IS NOT NULL AND prev_onground <> onground
"""


_DEBOUNCE_S = 21600  # 6 h — discriminating at testdata event density


def q_state4_debounced_edges(spark, sf):
    """STATE-4 debounce (models.py:256-270): keep a transition iff its
    gap to the previous candidate (kept or suppressed) exceeds the
    window — single lag pass, because the reference advances its
    last-event clock on suppressed events too."""
    from ..operators.events import debounce_events, detect_onground_edges

    ev = (
        _ev(spark, sf)
        .withColumn("onground", F.col("event_type") == "purchase")
        .drop("event_type")
    )
    edges = detect_onground_edges(ev, key_cols=("user_id",), ts="ts")
    kept = debounce_events(edges, key_cols=("user_id",), ts="ts", window_s=_DEBOUNCE_S)
    return kept.select(
        "user_id", _fmt(F.col("ts")).alias("ts_s"),
        F.col("event_type").alias("transition"),
    )


SQL_STATE4 = f"""
WITH flagged AS (
  SELECT user_id, ts, (event_type = 'purchase') AS onground FROM events
), lagged AS (
  SELECT user_id, ts, onground,
         lag(onground) OVER (PARTITION BY user_id ORDER BY ts) AS prev_onground
  FROM flagged
), edges AS (
  SELECT user_id, ts,
         CASE WHEN onground THEN 'landing' ELSE 'takeoff' END AS transition
  FROM lagged WHERE prev_onground IS NOT NULL AND prev_onground <> onground
), gapped AS (
  SELECT user_id, ts, transition,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS gap_us
  FROM edges
)
SELECT user_id, {_OFMT.format(c='ts')} AS ts_s, transition
FROM gapped WHERE gap_us IS NULL OR gap_us > {_DEBOUNCE_S}::BIGINT * 1000000
"""


def q_state9_intention(spark, sf):
    """STATE-9 intention classification (models.py:37-49 docstring;
    never implemented in the reference — engine extension): per session,
    departure if it starts 'onground', arrival if it ends 'onground',
    enroute otherwise."""
    ev = _ev(spark, sf).withColumn("onground", F.col("event_type") == "purchase")
    sess = sessionize(ev, key="user_id", ts="ts", gap_s=_SESSION_GAP_S)
    summ = sess.groupBy("user_id", "session_id").agg(
        F.min_by("onground", "ts").alias("first_onground"),
        F.max_by("onground", "ts").alias("last_onground"),
        F.bool_or(F.col("onground") == F.lit(False)).alias("any_airborne"),
    )
    return summ.select(
        "user_id",
        "session_id",
        F.when(F.col("first_onground") & ~F.col("last_onground"), "departure")
        .when(F.col("last_onground") & ~F.col("first_onground"), "arrival")
        .when(
            F.col("first_onground")
            & F.col("last_onground")
            & F.col("any_airborne"),
            "departure",  # gate-to-gate: reference's first-onground rule
        )
        .when(F.col("first_onground") & F.col("last_onground"), "unknown")
        .otherwise("enroute")
        .alias("intention"),
    )


SQL_STATE9 = f"""
WITH gaps AS (
  SELECT user_id, ts, (event_type = 'purchase') AS onground,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {_SESSION_GAP_S}::BIGINT * 1000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sess AS (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) - 1 AS session_id
  FROM gaps
), summ AS (
  SELECT user_id, session_id,
         arg_min(onground, ts) AS first_onground,
         arg_max(onground, ts) AS last_onground,
         bool_or(NOT onground) AS any_airborne
  FROM sess GROUP BY user_id, session_id
)
SELECT user_id, session_id::BIGINT AS session_id,
       CASE WHEN first_onground AND NOT last_onground THEN 'departure'
            WHEN last_onground AND NOT first_onground THEN 'arrival'
            WHEN first_onground AND last_onground AND any_airborne
                 THEN 'departure'
            WHEN first_onground AND last_onground THEN 'unknown'
            ELSE 'enroute' END AS intention
FROM summ
"""


# ---------------------------------------------------------------------------
# PRJ — projections / scalar functions
# ---------------------------------------------------------------------------


def q_prj2_json_extract_cast(spark, sf):
    """PRJ-2 normalize-with-NULL-on-failure analog over the props JSON
    (adsb_parser.py:197-219)."""
    ev = _ev(spark, sf)
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").try_cast("int").alias("k"),
    )


SQL_PRJ2 = """
SELECT event_id, TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
FROM events
"""


def q_prj3_timestamp_roundtrip(spark, sf):
    """PRJ-3 SBS-1 timestamp format parse (adsb_parser.py:27,203-206):
    render each ts in the wire format and re-parse it."""
    ev = _ev(spark, sf)
    wire = F.date_format(F.col("ts").cast("timestamp"), "yyyy/MM/dd,HH:mm:ss.SSS")
    reparsed = F.try_to_timestamp(wire, F.lit("yyyy/MM/dd,HH:mm:ss.SSS"))
    return ev.select(
        "event_id",
        wire.alias("wire_ts"),
        F.date_format(reparsed, "yyyy-MM-dd HH:mm:ss.SSS").alias("reparsed_s"),
    )


SQL_PRJ3 = """
SELECT event_id,
       strftime(ts, '%Y/%m/%d,%H:%M:%S.%g') AS wire_ts,
       strftime(strptime(strftime(ts, '%Y/%m/%d,%H:%M:%S.%g'), '%Y/%m/%d,%H:%M:%S.%g'),
                '%Y-%m-%d %H:%M:%S.%g') AS reparsed_s
FROM events
"""


def q_prj56_unit_compass(spark, sf):
    """PRJ-5 ft→m + PRJ-6 compass math (shared.py:5-33)."""
    ev = _ev(spark, sf)
    heading = F.col("value") % 360.0
    return ev.select(
        "event_id",
        (F.col("value") * 0.3048).alias("alt_m"),
        F.pmod(F.lit(450.0) - heading, F.lit(360.0)).alias("compass"),
    )


SQL_PRJ56 = """
SELECT event_id,
       value * 0.3048 AS alt_m,
       fmod(450.0 - fmod(value, 360.0), 360.0) AS compass
FROM events
"""


def q_prj7_track_interpolation(spark, sf):
    """PRJ-7 heading from consecutive points (shared.py:36-50):
    degrees(atan2(dy,dx)) → compass, rounded to 4 dp (libm ulp
    differences between engines are ~1e-13)."""
    ev = _ev(spark, sf).select(
        "event_id", "user_id", "ts",
        F.col("value").alias("x"),
        ((F.col("event_id") * 13) % 100).cast("double").alias("y"),
    )
    w = Window.partitionBy("user_id").orderBy("ts")
    dx = F.col("x") - F.lag("x").over(w)
    dy = F.col("y") - F.lag("y").over(w)
    ang = F.degrees(F.atan2(dy, dx))
    compass = F.pmod(F.lit(450.0) - ang, F.lit(360.0))
    return ev.withColumn("track", F.round(compass, 4)).select("event_id", "track")


SQL_PRJ7 = """
WITH pts AS (
  SELECT event_id, user_id, ts, value AS x,
         CAST((event_id * 13) % 100 AS DOUBLE) AS y
  FROM events
), lagged AS (
  SELECT event_id,
         x - lag(x) OVER w AS dx,
         y - lag(y) OVER w AS dy
  FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts)
)
SELECT event_id,
       round(fmod(fmod(450.0 - degrees(atan2(dy, dx)), 360.0) + 360.0, 360.0), 4) AS track
FROM lagged
"""


# ---------------------------------------------------------------------------
# SNK — retention view, geojson export
# ---------------------------------------------------------------------------


def q_snk23_live_retention(spark, sf):
    """SNK-2/3 positions_live view (create_public_schema.sql:819-855):
    last-24 h slice; 'now' = max(ts) for determinism."""
    ev = _ev(spark, sf)
    mx = ev.agg(F.max("ts").alias("_mx"))
    return (
        ev.crossJoin(F.broadcast(mx))
        .filter(F.col("ts") >= F.col("_mx") - F.expr("INTERVAL 24 HOURS"))
        .select("event_id", _fmt(F.col("ts")).alias("ts_s"))
    )


SQL_SNK23 = f"""
SELECT event_id, {_OFMT.format(c='ts')} AS ts_s
FROM events
WHERE ts >= (SELECT max(ts) FROM events) - INTERVAL 24 HOUR
"""


def q_snk4_geojson_paths(spark, sf):
    """SNK-4 GeoJSON linestring export (create_public_schema.sql:225-236)
    + AGG-5 ordered path assembly: one groupBy, not per-row calls.
    Coordinates rendered via decimal(12,2) for cross-engine string
    parity."""
    ev = _ev(spark, sf)
    pt = F.concat(
        F.lit("["),
        F.col("value").cast("decimal(12,2)").cast("string"),
        F.lit(","),
        F.col("user_id").cast("string"),
        F.lit("]"),
    )
    ordered = F.array_sort(
        F.collect_list(F.struct(F.col("ts").alias("t"), F.col("event_id").alias("i"), pt.alias("p")))
    )
    return (
        ev.groupBy("user_id")
        .agg(
            F.concat(
                F.lit('{"type":"LineString","coordinates":['),
                F.array_join(F.transform(ordered, lambda s: s["p"]), ","),
                F.lit("]}"),
            ).alias("geojson")
        )
        .select("user_id", "geojson")
    )


SQL_SNK4 = """
SELECT user_id,
       '{"type":"LineString","coordinates":[' ||
       string_agg('[' || CAST(CAST(value AS DECIMAL(12,2)) AS VARCHAR) || ',' ||
                  CAST(user_id AS VARCHAR) || ']', ',' ORDER BY ts, event_id) ||
       ']}' AS geojson
FROM events GROUP BY user_id
"""


def q_skew_salted_rollup(spark, sf):
    """Skew extension: event_type has a handful of hot values holding
    all rows — the canonical straggler key.  Two-stage salted groupBy
    (operators/skew.py) spreads each hot key over 16 reducers then
    merges partials; results are EXACTLY the direct groupBy (the
    oracle is the plain GROUP BY)."""
    from ..operators.skew import salted_aggregate

    ev = _ev(spark, sf)
    out = salted_aggregate(
        ev.withColumn("_cents", F.round(F.col("value") * 100).cast("bigint")),
        key="event_type",
        counts=[("n_events", None)],
        sums=[("sum_cents", "_cents")],
        mins=[("min_event_id", "event_id")],
        maxs=[("max_event_id", "event_id")],
    )
    return out.select(
        "event_type", "n_events", "sum_cents", "min_event_id", "max_event_id"
    )


SQL_SKEW_ROLLUP = """
SELECT event_type,
       count(*)::BIGINT AS n_events,
       sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS sum_cents,
       min(event_id) AS min_event_id,
       max(event_id) AS max_event_id
FROM events GROUP BY event_type
"""


def q_matview_paths_period(spark, sf):
    """Materialized-view refresh body end-to-end
    (create_materialized_views.sql:51-76 takeoff_paths_currentmonth):
    FLT-6 local-date selection ⋈ per-key AGG-5 paths, AGG-7 DISTINCT —
    via the real adsb.takeoff_paths_period API, which inverts the
    reference's per-row flight_path() nested loop into one groupBy.
    'purchase' events play takeoffs; (value, event_id) plays the
    position track."""
    from . import adsb

    ev = load_table(spark, sf, "events")
    takeoffs = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("flight_id"),
        F.col("ts").alias("time"),
        F.lit("UNK").alias("runway"),
    )
    positions = ev.select(
        F.col("user_id").alias("flight_id"),
        F.col("ts").alias("time"),
        F.col("value").alias("longitude"),
        F.col("event_id").cast("double").alias("latitude"),
    )
    out = adsb.takeoff_paths_period(
        takeoffs, positions, "2024-01-10", "2024-01-20"
    )
    return out.select(
        "flight_id", _fmt(F.col("time")).alias("ts_s"), "runway", "wkt"
    )


SQL_MATVIEW_PATHS = f"""
WITH paths AS (
  SELECT user_id AS flight_id,
         'LINESTRING (' ||
         string_agg(CAST(value AS VARCHAR) || ' ' ||
                    CAST(CAST(event_id AS DOUBLE) AS VARCHAR),
                    ', ' ORDER BY ts) || ')' AS wkt
  FROM events GROUP BY user_id
), sel AS (
  SELECT user_id AS flight_id, ts FROM events
  WHERE event_type = 'purchase'
    AND CAST(timezone('Europe/Paris', timezone('UTC', ts)) AS DATE) >= DATE '2024-01-10'
    AND CAST(timezone('Europe/Paris', timezone('UTC', ts)) AS DATE) <  DATE '2024-01-20'
)
SELECT DISTINCT s.flight_id, {_OFMT.format(c='s.ts')} AS ts_s,
       'UNK' AS runway, p.wkt
FROM sel s JOIN paths p USING (flight_id)
"""


# ---------------------------------------------------------------------------
# TPC-H shapes (bench headliners; AGG/JOIN coverage at lineitem scale)
# ---------------------------------------------------------------------------


def q_tpch_q1_pricing(spark, sf):
    """TPC-H Q1 shape: scan-heavy groupBy with 8 aggregates — the
    canonical map-side-combine benchmark."""
    li = load_table(spark, sf, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity")).cast("bigint").alias("sum_qty"),
            F.round(F.sum("l_extendedprice") * 100).cast("bigint").alias("sum_base_cents"),
            F.round(F.sum(disc) * 100).cast("bigint").alias("sum_disc_cents"),
            F.round(F.sum(disc * (1 + F.col("l_tax"))) * 100).cast("bigint").alias("sum_charge_cents"),
            F.round(F.avg("l_quantity") * 100).cast("bigint").alias("avg_qty_c"),
            F.round(F.avg("l_extendedprice") * 100).cast("bigint").alias("avg_price_c"),
            F.round(F.avg("l_discount") * 10000).cast("bigint").alias("avg_disc_bp"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
       CAST(round(sum(l_quantity)) AS BIGINT) AS sum_qty,
       CAST(round(sum(l_extendedprice) * 100) AS BIGINT) AS sum_base_cents,
       CAST(round(sum(l_extendedprice * (1 - l_discount)) * 100) AS BIGINT) AS sum_disc_cents,
       CAST(round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) * 100) AS BIGINT) AS sum_charge_cents,
       CAST(round(avg(l_quantity) * 100) AS BIGINT) AS avg_qty_c,
       CAST(round(avg(l_extendedprice) * 100) AS BIGINT) AS avg_price_c,
       CAST(round(avg(l_discount) * 10000) AS BIGINT) AS avg_disc_bp,
       count(*)::BIGINT AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_tpch_q3_shipping(spark, sf):
    """TPC-H Q3 shape: fact-fact join + dim filter + top-k with
    deterministic tiebreak."""
    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust.filter(F.col("c_mktsegment") == "BUILDING")),
              F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey")
        .agg(F.round(F.sum(rev) * 100).cast("bigint").alias("revenue_cents"))
        .orderBy(F.desc("revenue_cents"), "l_orderkey")
        .limit(10)
    )


SQL_TPCH_Q3 = """
SELECT l_orderkey,
       CAST(round(sum(l_extendedprice * (1 - l_discount)) * 100) AS BIGINT) AS revenue_cents
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY l_orderkey
ORDER BY revenue_cents DESC, l_orderkey
LIMIT 10
"""


def q_tpch_q5_region_revenue(spark, sf):
    """TPC-H Q5 shape: multi-way join chain fact→orders→customer→
    nation→region with broadcast dims and a single aggregation."""
    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer")
    nat = load_table(spark, sf, "nation")
    reg = load_table(spark, sf, "region")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum(rev) * 100).cast("bigint").alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


SQL_TPCH_Q5 = """
SELECT r_name, n_name,
       CAST(round(sum(l_extendedprice * (1 - l_discount)) * 100) AS BIGINT) AS revenue_cents,
       count(*)::BIGINT AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def q_rollup_region_revenue(spark, sf):
    """ROLLUP hierarchy totals (engine extension — the reference has no
    grouping sets, SURVEY §2.4): revenue per (region, nation) plus
    per-region and grand totals in ONE aggregation pass (Catalyst
    expands the grouping sets map-side; one shuffle)."""
    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer")
    nat = load_table(spark, sf, "nation")
    reg = load_table(spark, sf, "region")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .rollup("r_name", "n_name")
        .agg(
            F.round(F.sum(rev) * 100).cast("bigint").alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


SQL_ROLLUP = """
SELECT r_name, n_name,
       CAST(round(sum(l_extendedprice * (1 - l_discount)) * 100) AS BIGINT) AS revenue_cents,
       count(*)::BIGINT AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


def q_percentile_value_by_type(spark, sf):
    """Exact percentiles per group (engine extension): p50/p90/p99 of
    `value` per event_type.  Spark's `percentile` and DuckDB's
    `quantile_cont` share the (n-1)·p linear-interpolation definition;
    4-dp rounding absorbs float noise."""
    ev = _ev(spark, sf)
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
    )


SQL_PERCENTILE = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 4) AS p50,
       round(quantile_cont(value, 0.9), 4) AS p90,
       round(quantile_cont(value, 0.99), 4) AS p99
FROM events GROUP BY event_type
"""


def q_tpch_q4_semi_join(spark, sf):
    """TPC-H Q4 shape (engine extension — the reference has no
    semi/anti joins, SURVEY §2.3): orders having at least one returned
    line item, counted by priority.  LEFT SEMI join = EXISTS — the
    probe side streams, the build side keeps only the key set, and no
    order row duplicates however many matching lineitems it has."""
    orders = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    returned = li.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        orders.filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp_ntz"))
        )
        .join(returned, orders.o_orderkey == returned.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


SQL_TPCH_Q4 = """
SELECT o_orderpriority, count(*)::BIGINT AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-01-01'
  AND o_orderdate < TIMESTAMP '1996-01-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
"""


def q_anti_join_quiet_customers(spark, sf):
    """LEFT ANTI join = NOT EXISTS (engine extension): customers with
    no orders in 1995H1, counted per market segment.  The date filter
    prunes the build side BEFORE the anti join (and reaches the
    parquet scan), so the anti probe carries only the keys that can
    disqualify."""
    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders")
    active = orders.filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1995-07-01").cast("timestamp_ntz"))
    ).select("o_custkey")
    return (
        cust.join(active, cust.c_custkey == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


SQL_ANTI_QUIET = """
SELECT c_mktsegment, count(*)::BIGINT AS n_customers
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '1995-01-01'
                    AND o_orderdate < TIMESTAMP '1995-07-01')
GROUP BY c_mktsegment
"""


def q_tpch_q6_forecast(spark, sf):
    """TPC-H Q6 shape: highly selective scan-level predicates + one
    global aggregate — the predicate-pushdown showcase."""
    li = load_table(spark, sf, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")) * 100)
            .cast("bigint")
            .alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


SQL_TPCH_Q6 = """
SELECT CAST(round(sum(l_extendedprice * l_discount) * 100) AS BIGINT) AS revenue_cents,
       count(*)::BIGINT AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


# ---------------------------------------------------------------------------
# Full-pipeline end-to-end, oracle-paired: the DuckDB side restates the
# whole parse→sessionize→admission→summaries→id chain as CTEs.
# ---------------------------------------------------------------------------


def q_etl_full_pipeline(spark, sf):
    """SURVEY §3.1 end-to-end: synthesize SBS-1 wire lines from the
    events table, then run the complete batch ETL (gate → regex
    validity → parse → filter → dispatch → sessionize → admission →
    summaries → edges → debounce) and return the flights table.

    Output tables are materialized to a scratch dir (build_tables
    output_path mode), so every internal cache is released before
    return — the returned DataFrame is a plain parquet scan."""
    import os

    from .etl import build_tables

    ev = _ev(spark, sf)
    # Wire-format lines: hexident 'A'+user_id (uppercase-hex alphabet,
    # so the REGEXP_MSG validity gate admits it), MSG3 with a synthetic
    # position; every ~7th event goes onground (landing episodes).
    line = F.concat_ws(
        ",",
        F.lit("MSG"), F.lit("3"), F.lit("1"), F.lit("1"),
        F.concat(F.lit("A"), F.col("user_id").cast("string")),
        F.lit("1"),
        F.date_format(F.col("ts").cast("timestamp"), "yyyy/MM/dd"),
        F.date_format(F.col("ts").cast("timestamp"), "HH:mm:ss.SSS"),
        F.date_format(F.col("ts").cast("timestamp"), "yyyy/MM/dd"),
        F.date_format(F.col("ts").cast("timestamp"), "HH:mm:ss.SSS"),
        F.lit(""),
        F.round(F.col("value") * 10).cast("int").cast("string"),
        F.lit(""), F.lit(""),
        F.round(F.lit(47.0) + F.col("value") / 1000.0, 5).cast("string"),
        F.round(F.lit(-1.6) + F.col("value") / 1000.0, 5).cast("string"),
        F.lit(""), F.lit(""), F.lit("0"), F.lit(""), F.lit("0"),
        F.when(F.col("event_id") % 7 == 0, "-1").otherwise("0"),
    )
    raw = ev.select(line.alias("value"))
    scratch = os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        ".etl_scratch",
        os.path.basename(sf.rstrip("/")),
    )
    tables = build_tables(
        raw, altitude_below=100000.0, session_gap_s=3600, output_path=scratch
    )
    return tables["flights"].select(
        "id", "hexident",
        F.date_format(F.col("first_seen"), "yyyy-MM-dd HH:mm:ss").alias("first_seen"),
        F.date_format(F.col("last_seen"), "yyyy-MM-dd HH:mm:ss").alias("last_seen"),
        "intention", "n_messages",
    )


# The same pipeline as DuckDB SQL.  The wire-format string roundtrip
# reduces to: hexident = 'A'||user_id, gen_date_time = ts truncated to
# milliseconds, altitude = round(value*10)::INT, onground =
# (event_id % 7 = 0); every line passes the 22-field and regex gates
# by construction.  Sessionize → admission → summaries → intention →
# dense ids mirror plans/etl.py stage for stage.
SQL_ETL = """
WITH msgs AS (
  SELECT 'A' || CAST(user_id AS VARCHAR) AS hexident,
         date_trunc('milliseconds', ts) AS gdt,
         CAST(round(value * 10) AS INTEGER) AS altitude,
         (event_id % 7 = 0) AS onground
  FROM events
), gaps AS (
  SELECT *, CASE WHEN epoch_us(gdt) - lag(epoch_us(gdt)) OVER w IS NULL
                   OR epoch_us(gdt) - lag(epoch_us(gdt)) OVER w > 3600000000
                 THEN 1 ELSE 0 END AS is_new
  FROM msgs WINDOW w AS (PARTITION BY hexident ORDER BY gdt)
), sess AS (
  SELECT *, sum(is_new) OVER (PARTITION BY hexident ORDER BY gdt
                              ROWS UNBOUNDED PRECEDING) - 1 AS session_id
  FROM gaps
), adm AS (
  SELECT hexident, session_id, min(gdt) AS adm_ts
  FROM sess
  WHERE altitude IS NOT NULL AND altitude > -1000.0 AND altitude < 100000.0
  GROUP BY hexident, session_id
), kept AS (
  SELECT s.* FROM sess s JOIN adm a USING (hexident, session_id)
  WHERE s.gdt >= a.adm_ts
), summ AS (
  SELECT hexident, session_id,
         min(gdt) AS first_seen, max(gdt) AS last_seen,
         count(*) AS n_messages,
         arg_min(onground, gdt) AS first_onground,
         arg_max(onground, gdt) AS last_onground,
         bool_or(NOT onground) AS any_airborne
  FROM kept GROUP BY hexident, session_id
)
SELECT row_number() OVER (ORDER BY first_seen, hexident, session_id) AS id,
       hexident,
       strftime(first_seen, '%Y-%m-%d %H:%M:%S') AS first_seen,
       strftime(last_seen, '%Y-%m-%d %H:%M:%S') AS last_seen,
       -- mirrors classify_intention exactly (coalesce + the
       -- airborne-in-between gate-to-gate split, the taxi-only and
       -- signals-absent 'unknown' branches)
       CASE WHEN coalesce(first_onground, false)
                 AND NOT coalesce(last_onground, false) THEN 'departure'
            WHEN coalesce(last_onground, false)
                 AND NOT coalesce(first_onground, false) THEN 'arrival'
            WHEN coalesce(first_onground, false)
                 AND coalesce(last_onground, false)
                 AND coalesce(any_airborne, false) THEN 'departure'
            WHEN coalesce(first_onground, false)
                 AND coalesce(last_onground, false) THEN 'unknown'
            WHEN first_onground IS NULL AND last_onground IS NULL
                 THEN 'unknown'
            ELSE 'enroute' END AS intention,
       n_messages::BIGINT AS n_messages
FROM summ
"""


# ---------------------------------------------------------------------------
# TEMPORAL — as-of join, interval join, multigrain rollup
# (operators/temporal.py; the time-series join shapes of TimescaleDB /
# kdb+ the reference's equi-join-only schema cannot express)
# ---------------------------------------------------------------------------


def q_asof_last_error(spark, sf):
    """Backward as-of join: each purchase matched to the SAME user's
    most recent error at-or-before it (kdb+ ``aj`` / DuckDB ``ASOF
    JOIN``).  One shuffle on user_id, window last(ignorenulls) — no
    inequality join (Spark would plan BroadcastNestedLoopJoin)."""
    from ..operators.temporal import asof_join

    ev = _ev(spark, sf)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        "ts",
        F.col("event_id").alias("err_id"),
        _fmt(F.col("ts")).alias("err_ts_s"),
        F.round(F.col("value") * 100).cast("long").alias("err_value_cents"),
    )
    out = asof_join(
        purchases, errors, on="user_id", left_ts="ts", right_ts="ts",
        right_cols=["err_id", "err_ts_s", "err_value_cents"],
    )
    return out.select(
        "event_id",
        _fmt(F.col("ts")).alias("ts_s"),
        "user_id",
        F.col("asof_err_id").alias("err_id"),
        F.col("asof_err_ts_s").alias("err_ts_s"),
        F.col("asof_err_value_cents").alias("err_value_cents"),
    )


SQL_ASOF = f"""
WITH p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
), e AS (
  SELECT user_id, ts, event_id AS err_id,
         {_OFMT.format(c='ts')} AS err_ts_s,
         CAST(round(value * 100) AS BIGINT) AS err_value_cents
  FROM events WHERE event_type = 'error'
)
SELECT p.event_id, {_OFMT.format(c='p.ts')} AS ts_s, p.user_id,
       e.err_id, e.err_ts_s, e.err_value_cents
FROM p ASOF LEFT JOIN e ON p.user_id = e.user_id AND p.ts >= e.ts
"""


def q_range_join_error_windows(spark, sf):
    """Interval (range) join via time-bucket equi join: spike errors
    (value > 195) open a 10-minute window; count/sum ALL events inside
    each window.  Both sides shuffle once on the derived bucket key —
    the inequality is a codegen'd post-filter, not a nested-loop
    join."""
    from ..operators.temporal import interval_join

    ev = _ev(spark, sf)
    intervals = ev.filter(
        (F.col("event_type") == "error") & (F.col("value") > 195.0)
    ).select(
        F.col("event_id").alias("ivl_id"),
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 600 SECONDS")).alias("end_ts"),
    )
    hits = interval_join(
        intervals,
        ev.select("event_id", "ts", "value"),
        start="start_ts", end="end_ts", ts="ts", bucket_s=600,
    )
    return (
        hits.groupBy("ivl_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                "value_cents"
            ),
            _fmt(F.first("start_ts")).alias("start_s"),
        )
        .select("ivl_id", "start_s", "n_events", "value_cents")
    )


SQL_RANGE_JOIN = f"""
WITH i AS (
  SELECT event_id AS ivl_id, ts AS start_ts,
         ts + INTERVAL 600 SECOND AS end_ts
  FROM events WHERE event_type = 'error' AND value > 195.0
)
SELECT i.ivl_id, {_OFMT.format(c='i.start_ts')} AS start_s,
       count(*)::BIGINT AS n_events,
       CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM i JOIN events e ON e.ts >= i.start_ts AND e.ts < i.end_ts
GROUP BY i.ivl_id, start_s
"""


def q_rollup_time_multigrain(spark, sf):
    """Hypertable-style continuous aggregate: hour/day/per-type/total
    grains from ONE ``ROLLUP (event_type, day, hour)`` scan
    (TimescaleDB materializes each grain as its own continuous
    aggregate and refreshes N jobs; Expand + partial agg does it in
    one shuffle of partially-aggregated rows)."""
    from ..operators.temporal import multigrain_rollup

    ev = _ev(spark, sf).withColumn(
        "cents", F.round(F.col("value") * 100).cast("long")
    )
    return multigrain_rollup(
        ev,
        ts="ts",
        aggs=[
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("value_cents"),
        ],
        extra_keys=["event_type"],
    )


SQL_MULTIGRAIN = """
WITH base AS (
  SELECT event_type,
         strftime(date_trunc('day', ts), '%Y-%m-%d') AS day_s,
         strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour_s,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), rolled AS (
  SELECT event_type, day_s, hour_s,
         count(*)::BIGINT AS n, CAST(sum(cents) AS BIGINT) AS value_cents
  FROM base GROUP BY ROLLUP (event_type, day_s, hour_s)
)
SELECT CASE WHEN hour_s IS NOT NULL THEN 'hour'
            WHEN day_s IS NOT NULL THEN 'day'
            WHEN event_type IS NOT NULL THEN 'sub3'
            ELSE 'total' END AS grain,
       coalesce(event_type, '') AS event_type,
       coalesce(day_s, '') AS day_s,
       coalesce(hour_s, '') AS hour_s,
       n, value_cents
FROM rolled
"""


# ---------------------------------------------------------------------------
# Window-class temporal extensions: gap-fill + trailing range frame
# ---------------------------------------------------------------------------


def q_forward_fill_reading(spark, sf):
    """Per-user forward fill (operators/temporal.py forward_fill):
    treat `value` as a sparse sensor present only on purchase events
    and carry the last reading forward onto every later event — the
    general imputation form of the reference's parse-time track
    interpolation (PRJ-7).  One keyed window, running last()."""
    from ..operators.temporal import forward_fill

    ev = _ev(spark, sf).withColumn(
        "reading",
        F.when(F.col("event_type") == "purchase", F.col("value")),
    )
    out = forward_fill(
        ev, ["reading"], ["user_id"], ts_col="ts", tiebreak=["event_id"]
    )
    return out.select(
        "event_id",
        "user_id",
        _fmt(F.col("ts")).alias("ts_s"),
        "event_type",
        F.round("reading_ff", 4).alias("last_reading"),
    )


SQL_FORWARD_FILL = f"""
SELECT event_id, user_id, {_OFMT.format(c='ts')} AS ts_s, event_type,
       round(last_value(CASE WHEN event_type = 'purchase' THEN value END
                        IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING), 4) AS last_reading
FROM events
"""


def q_rolling_value_avg(spark, sf):
    """Trailing 1-hour per-user moving aggregate at event grain
    (operators/temporal.py rolling_range_agg): RANGE frame over exact
    integer epoch-micros ordering — the continuous counterpart of the
    fixed AGG-1/AGG-2 bins."""
    from ..operators.temporal import rolling_range_agg

    out = rolling_range_agg(
        _ev(spark, sf), "value", ["user_id"], ts_col="ts", width_s=3600
    )
    return out.select(
        "event_id",
        "user_id",
        _fmt(F.col("ts")).alias("ts_s"),
        "n_window",
        "avg_window",
    )


SQL_ROLLING_AVG = f"""
SELECT event_id, user_id, {_OFMT.format(c='ts')} AS ts_s,
       count(value) OVER w::BIGINT AS n_window,
       round(avg(value) OVER w, 4) AS avg_window
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

def q_event_transitions(spark, sf):
    """Event-transition (Markov edge) matrix (operators/events.py
    transition_counts): one lag window per user (the sessionize
    exchange), partial-agg rollup on the type-pair key."""
    from ..operators.events import transition_counts

    return transition_counts(_ev(spark, sf))


SQL_EVENT_TRANSITIONS = """
WITH t AS (
  SELECT event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events
)
SELECT prev AS from_type, event_type AS to_type,
       count(*)::BIGINT AS n_transitions
FROM t WHERE prev IS NOT NULL GROUP BY 1, 2
"""


#: Columns profiled by the events census query (and its oracle).
_PROFILE_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]


def q_profile_events(spark, sf):
    """Data-quality census of the events table
    (operators/profile.py profile_columns): per-column exact null and
    distinct counts from ONE scan (Expand + two-level partial agg),
    unpivoted to rows via stack over the single result row."""
    from ..operators.profile import profile_columns

    return profile_columns(_ev(spark, sf), _PROFILE_COLS)


SQL_PROFILE_EVENTS = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS col_name, count(*)::BIGINT AS n_rows,
       sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
       count(DISTINCT {c})::BIGINT AS n_distinct FROM events"""
    for c in _PROFILE_COLS
)


def q_tpch_q14_promo(spark, sf):
    """TPC-H Q14 shape: one-month scan-pruned lineitem joined to the
    part dim (broadcast — dim is catalog-sized) with a conditional
    aggregate computing the promo revenue share.  Exercises
    filter-then-broadcast-join-then-agg with a CASE inside sum."""
    li = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1995-03-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1995-04-01").cast("timestamp_ntz"))
        )
        .join(F.broadcast(part.select("p_partkey", "p_type")),
              F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                * 100
            ).cast("bigint").alias("promo_cents"),
            F.round(F.sum(rev) * 100).cast("bigint").alias("total_cents"),
        )
    )


SQL_TPCH_Q14 = """
SELECT CAST(round(sum(CASE WHEN p_type = 'PROMO'
                           THEN l_extendedprice * (1 - l_discount)
                           ELSE 0.0 END) * 100) AS BIGINT) AS promo_cents,
       CAST(round(sum(l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)
         AS total_cents
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1995-03-01'
  AND l_shipdate < TIMESTAMP '1995-04-01'
"""


def q_tpch_q18_large_orders(spark, sf):
    """TPC-H Q18 shape (large-volume orders): aggregate lineitem to
    order grain, HAVING-filter the tiny survivor set, then join ORDERS
    and CUSTOMER to it — the having-side becomes the broadcast build
    side, so the big fact tables never shuffle on a post-agg key."""
    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity") * 100).cast("bigint").alias("total_qty_c"))
        .filter(F.col("total_qty_c") > 250 * 100)
    )
    return (
        orders.join(F.broadcast(big), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "o_orderkey",
            _fmt(F.col("o_orderdate")).alias("o_orderdate_s"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias(
                "o_totalprice_c"
            ),
            "total_qty_c",
        )
    )


SQL_TPCH_Q18 = f"""
WITH big AS (
  SELECT l_orderkey,
         CAST(round(sum(l_quantity) * 100) AS BIGINT) AS total_qty_c
  FROM lineitem GROUP BY l_orderkey
  HAVING CAST(round(sum(l_quantity) * 100) AS BIGINT) > 25000
)
SELECT c_name, o_orderkey,
       {_OFMT.format(c='o_orderdate')} AS o_orderdate_s,
       CAST(round(o_totalprice * 100) AS BIGINT) AS o_totalprice_c,
       total_qty_c
FROM orders JOIN big ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
"""


def q_tpch_q19_or_predicates(spark, sf):
    """TPC-H Q19 shape: disjunctive (brand, size, quantity) branch
    predicates across a lineitem⨝part join — the OR-pushdown /
    join-predicate showcase: each branch constrains BOTH sides, so
    the planner can push the common p_partkey equi key and evaluate
    the disjunction post-join inside codegen."""
    li = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part")
    j = li.join(
        F.broadcast(part.select("p_partkey", "p_brand", "p_size")),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    b1 = (
        (F.col("p_brand") == "Brand#11")
        & (F.col("p_size").between(1, 15))
        & (F.col("l_quantity").between(1, 11))
    )
    b2 = (
        (F.col("p_brand") == "Brand#22")
        & (F.col("p_size").between(1, 25))
        & (F.col("l_quantity").between(10, 20))
    )
    b3 = (
        (F.col("p_brand") == "Brand#15")
        & (F.col("p_size").between(1, 50))
        & (F.col("l_quantity").between(20, 30))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return j.filter(b1 | b2 | b3).agg(
        F.round(F.sum(rev) * 100).cast("bigint").alias("revenue_cents"),
        F.count(F.lit(1)).alias("n_items"),
    )


SQL_TPCH_Q19 = """
SELECT CAST(round(sum(l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)
         AS revenue_cents,
       count(*)::BIGINT AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15
         AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#22' AND p_size BETWEEN 1 AND 25
         AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 50
         AND l_quantity BETWEEN 20 AND 30)
"""


def q_cohort_retention(spark, sf):
    """Weekly cohort-retention matrix: users bucketed by first-seen
    ISO week (the cohort), counted distinct per activity week, with
    the week offset — the standard retention triangle every product/
    engagement dashboard is built on.

    Scale shape: ONE corpus scan and ONE shuffle on the user key —
    groupBy(user) emits the cohort (min ts) AND the user's distinct
    activity-week set in the same partial aggregation (the set is
    bounded by the calendar, not the corpus); exploding it yields
    (user, week) pairs that are unique by construction, so the final
    tiny (cohort × week) matrix counts rows instead of paying a
    countDistinct Expand.  The old two-branch shape (separate
    first-seen aggregate + distinct activity projection joined on
    user) scanned events twice with no runtime exchange reuse —
    verified on the executed plan.  No windows anywhere.
    """
    ev = _ev(spark, sf)
    wk = lambda c: F.date_trunc("week", c)  # noqa: E731 — ISO Monday on both engines
    per_user = ev.groupBy("user_id").agg(
        wk(F.min("ts")).alias("_cohort"),
        F.collect_set(wk(F.col("ts"))).alias("_weeks"),
    )
    return (
        per_user.select("_cohort", F.explode("_weeks").alias("_week"))
        .groupBy("_cohort", "_week")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .select(
            _fmt(F.col("_cohort")).alias("cohort_s"),
            _fmt(F.col("_week")).alias("week_s"),
            (F.datediff(F.col("_week"), F.col("_cohort")) / 7)
            .cast("int")
            .alias("week_idx"),
            "n_users",
        )
    )


SQL_COHORT_RETENTION = f"""
WITH fw AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cohort
  FROM events GROUP BY user_id
), aw AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
)
SELECT {_OFMT.format(c='cohort')} AS cohort_s,
       {_OFMT.format(c='week')} AS week_s,
       CAST(date_diff('day', cohort, week) / 7 AS INTEGER) AS week_idx,
       count(DISTINCT user_id)::BIGINT AS n_users
FROM aw JOIN fw USING (user_id)
GROUP BY cohort, week
"""


def q_session_window_native(spark, sf):
    """Per-user sessions via Spark's NATIVE session_window aggregation
    — the declarative twin of operators/sessionize.py (STATE-1) and of
    the streaming applyInPandasWithState handler: one groupBy over a
    gap-merged event-time window, usable verbatim under readStream
    with a watermark.  Window end = last event + gap (exclusive), so
    an event landing exactly at the gap boundary starts a NEW session
    — the oracle restates that as a >= gap island test.
    """
    ev = _ev(spark, sf)
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .select(
            "user_id",
            _fmt(F.col("session_window.start")).alias("start_s"),
            _fmt(F.col("session_window.end")).alias("end_s"),
            "n_events",
        )
    )


SQL_SESSION_WINDOW = f"""
WITH gaps AS (
  SELECT user_id, ts,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sess AS (
  SELECT user_id, ts,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM gaps
)
SELECT user_id,
       {_OFMT.format(c='min(ts)')} AS start_s,
       {_OFMT.format(c="max(ts) + INTERVAL 30 MINUTE")} AS end_s,
       count(*)::BIGINT AS n_events
FROM sess GROUP BY user_id, sid
"""


# ---------------------------------------------------------------------------
# Behavioral analytics: funnel, pivot matrix, n-tile bands, CUBE
# (engine extensions — the reference's analytics stop at histograms
# and peak-hour windows, create_public_schema.sql:182-532)
# ---------------------------------------------------------------------------

#: Ordered funnel steps over the events stream.
_FUNNEL_STEPS = ["view", "click", "purchase"]


def q_funnel_conversion(spark, sf):
    """Ordered-funnel reach (operators/analytics.py funnel_steps): one
    shuffle on the user key; the chained per-step window minima reuse
    that single exchange (plan-asserted)."""
    from ..operators.analytics import funnel_steps

    return funnel_steps(_ev(spark, sf), _FUNNEL_STEPS)


def _funnel_sql(steps: list[str]) -> str:
    ctes = ["s0 AS (SELECT user_id, ts, event_type FROM events)"]
    prev = None
    for i, s in enumerate(steps):
        cond = f"event_type = '{s}'"
        if prev is not None:
            cond += f" AND ts >= {prev}"
        ctes.append(
            f"s{i + 1} AS (SELECT *, min(CASE WHEN {cond} THEN ts END)"
            f" OVER (PARTITION BY user_id) AS t{i} FROM s{i})"
        )
        prev = f"t{i}"
    t_aggs = ", ".join(f"max(t{i}) AS t{i}" for i in range(len(steps)))
    ctes.append(
        f"u AS (SELECT user_id, {t_aggs} FROM s{len(steps)} GROUP BY user_id)"
    )
    branches = "\nUNION ALL\n".join(
        f"SELECT {i + 1} AS step_idx, '{s}' AS step,"
        f" count(t{i})::BIGINT AS n_users FROM u"
        for i, s in enumerate(steps)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + branches


SQL_FUNNEL = _funnel_sql(_FUNNEL_STEPS)


#: Explicit pivot columns — never inferred from data (scale rule).
_PIVOT_TYPES = ["view", "click", "purchase", "signup", "error"]


#: Conversion window for the bounded funnel variant (1 hour).
_FUNNEL_WINDOW_S = 3600


def q_funnel_windowed(spark, sf):
    """Conversion-window funnel (funnel_steps within_seconds=3600):
    later steps must land within an hour of the user's FIRST step-1
    event — the greedy-anchor bounded semantics, same single
    user-key exchange."""
    from ..operators.analytics import funnel_steps

    return funnel_steps(
        _ev(spark, sf), _FUNNEL_STEPS, within_seconds=_FUNNEL_WINDOW_S
    )


def _funnel_windowed_sql(steps: list[str], within_s: int) -> str:
    ctes = ["s0 AS (SELECT user_id, ts, event_type FROM events)"]
    prev = None
    for i, s in enumerate(steps):
        cond = f"event_type = '{s}'"
        if prev is not None:
            cond += (
                f" AND ts >= {prev}"
                f" AND ts <= t0 + INTERVAL {within_s} SECOND"
            )
        ctes.append(
            f"s{i + 1} AS (SELECT *, min(CASE WHEN {cond} THEN ts END)"
            f" OVER (PARTITION BY user_id) AS t{i} FROM s{i})"
        )
        prev = f"t{i}"
    t_aggs = ", ".join(f"max(t{i}) AS t{i}" for i in range(len(steps)))
    ctes.append(
        f"u AS (SELECT user_id, {t_aggs} FROM s{len(steps)} GROUP BY user_id)"
    )
    branches = "\nUNION ALL\n".join(
        f"SELECT {i + 1} AS step_idx, '{s}' AS step,"
        f" count(t{i})::BIGINT AS n_users FROM u"
        for i, s in enumerate(steps)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + branches


SQL_FUNNEL_WINDOWED = _funnel_windowed_sql(_FUNNEL_STEPS, _FUNNEL_WINDOW_S)


def q_pivot_type_by_day(spark, sf):
    """Daily activity matrix (operators/analytics.py
    pivot_daily_activity): single-pass pivot with explicit values —
    one partial-agg shuffle on the day key, conditional-count
    projection map-side."""
    from ..operators.analytics import pivot_daily_activity

    return pivot_daily_activity(_ev(spark, sf), _PIVOT_TYPES)


SQL_PIVOT = (
    "SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day_s,\n"
    + ",\n".join(
        f"  sum(CASE WHEN event_type = '{v}' THEN 1 ELSE 0 END)::BIGINT"
        f" AS n_{v}"
        for v in _PIVOT_TYPES
    )
    + "\nFROM events GROUP BY 1"
)


def q_ntile_value_bands(spark, sf):
    """Exact quartile banding of `value` per event_type
    (operators/analytics.py ntile_bands): per-key total sort under the
    deterministic (value, event_id) order — right for
    bounded-cardinality keys; the histogram quantile gate
    (quality_quantile_filter) is the heavy-tailed-key alternative."""
    from ..operators.analytics import ntile_bands

    return ntile_bands(_ev(spark, sf), n=4)


SQL_NTILE = """
WITH b AS (
  SELECT event_type, value, event_id,
         ntile(4) OVER (PARTITION BY event_type
                        ORDER BY value, event_id) AS band
  FROM events WHERE value IS NOT NULL
)
SELECT event_type, band::INTEGER AS band, count(*)::BIGINT AS n_rows,
       round(min(value), 4) AS min_v, round(max(value), 4) AS max_v
FROM b GROUP BY 1, 2
"""


#: Z-order layout contract for the events table: fixed quantization
#: bounds per keyed dimension (part of the layout, like a partition
#: scheme).
_ZORDER_COLS = [("user_id", 0.0, 150.0), ("value", 0.0, 500.0)]
_ZORDER_BITS = 8


def q_top_journeys(spark, sf):
    """Journey mining (operators/analytics.py top_journeys): each
    user's first five event types under the (ts, event_id) total
    order, counted as paths — one user-key shuffle, path partial agg,
    TakeOrdered cut."""
    from ..operators.analytics import top_journeys

    return top_journeys(_ev(spark, sf), max_steps=5, top_n=20)


SQL_TOP_JOURNEYS = """
WITH p AS (
  SELECT user_id,
         array_to_string(
           list_slice(list(event_type ORDER BY ts, event_id), 1, 5), '>'
         ) AS path
  FROM events GROUP BY user_id
)
SELECT path, count(*)::BIGINT AS n_users FROM p GROUP BY path
ORDER BY n_users DESC, path LIMIT 20
"""


def q_rfm_scores(spark, sf):
    """RFM segmentation (operators/analytics.py rfm_scores): per-user
    recency/frequency/monetary plus window-free quintile scores —
    boundaries from ONE percentile pass over the user frame broadcast
    back, scores as comparison sums (no global ntile sort)."""
    from ..operators.analytics import rfm_scores

    return rfm_scores(_ev(spark, sf))


SQL_RFM = """
WITH pu AS (
  SELECT user_id,
         epoch_us(ts_max)::BIGINT AS r_raw, f_raw, m_cents
  FROM (
    SELECT user_id, max(ts) AS ts_max, count(*)::BIGINT AS f_raw,
           CAST(round(sum(coalesce(value, 0.0)) * 100) AS BIGINT) AS m_cents
    FROM events GROUP BY user_id
  )
), q AS (
  SELECT quantile_cont(r_raw, [0.2, 0.4, 0.6, 0.8]) AS qr,
         quantile_cont(f_raw, [0.2, 0.4, 0.6, 0.8]) AS qf,
         quantile_cont(m_cents, [0.2, 0.4, 0.6, 0.8]) AS qm
  FROM pu
)
SELECT user_id, r_raw, f_raw, m_cents,
       (1 + (r_raw > qr[1])::INT + (r_raw > qr[2])::INT
          + (r_raw > qr[3])::INT + (r_raw > qr[4])::INT) AS r_score,
       (1 + (f_raw > qf[1])::INT + (f_raw > qf[2])::INT
          + (f_raw > qf[3])::INT + (f_raw > qf[4])::INT) AS f_score,
       (1 + (m_cents > qm[1])::INT + (m_cents > qm[2])::INT
          + (m_cents > qm[3])::INT + (m_cents > qm[4])::INT) AS m_score
FROM pu, q
"""


def q_mad_outliers(spark, sf):
    """Robust outlier screen (operators/analytics.py mad_outliers):
    rows >3 robust SDs (median/MAD) from their event_type median —
    two bounded key aggregations broadcast back, no per-group sort
    window."""
    from ..operators.analytics import mad_outliers

    return mad_outliers(_ev(spark, sf), threshold=3.0)


SQL_MAD = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS m
  FROM events WHERE value IS NOT NULL GROUP BY event_type
), mad AS (
  SELECT e.event_type, quantile_cont(abs(e.value - med.m), 0.5) AS d
  FROM events e JOIN med USING (event_type)
  WHERE e.value IS NOT NULL GROUP BY e.event_type
), scored AS (
  SELECT e.event_id, e.event_type, round(e.value, 4) AS value_r,
         round(abs(e.value - med.m) / (mad.d * 1.4826), 4) AS dev_ratio
  FROM events e JOIN med USING (event_type) JOIN mad USING (event_type)
  WHERE e.value IS NOT NULL AND mad.d * 1.4826 <> 0
)
SELECT event_id, event_type, value_r, dev_ratio
FROM scored WHERE dev_ratio > 3.0
"""


def q_pagerank_event_types(spark, sf):
    """Weighted PageRank over the event-transition graph
    (operators/graph.py pagerank_ppm, 3 iterations, d=0.85): rank
    mass in integer ppm so every iteration is exact bigint arithmetic
    — the oracle replays the same three iterations as chained CTEs."""
    from ..operators.events import transition_counts
    from ..operators.graph import pagerank_ppm

    edges = transition_counts(_ev(spark, sf)).select(
        F.col("from_type").alias("src"),
        F.col("to_type").alias("dst"),
        F.col("n_transitions").alias("weight"),
    )
    return pagerank_ppm(edges, iterations=3, damping=0.85)


def _pagerank_sql(iterations: int = 3, damping: float = 0.85) -> str:
    ppm = 1_000_000
    d = f"CAST({damping!r} AS DOUBLE)"
    base_lit = f"CAST({(1.0 - damping) * ppm!r} AS DOUBLE)"
    ctes = [
        """t AS (
  SELECT event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events
)""",
        """e AS (
  SELECT prev AS s, event_type AS dnode, count(*)::DOUBLE AS w
  FROM t WHERE prev IS NOT NULL GROUP BY 1, 2
)""",
        """nodes AS (
  SELECT DISTINCT s AS node FROM e
  UNION
  SELECT DISTINCT dnode FROM e
)""",
        "nn AS (SELECT count(*)::BIGINT AS n FROM nodes)",
        "outd AS (SELECT s, sum(w) AS o FROM e GROUP BY s)",
        "en AS (SELECT e.s, e.dnode, e.w / outd.o AS frac FROM e JOIN outd USING (s))",
        f"""r0 AS (
  SELECT node, CAST(round(CAST({float(ppm)!r} AS DOUBLE) / n) AS BIGINT) AS r
  FROM nodes, nn
)""",
        f"""b AS (
  SELECT node, CAST(round({base_lit} / n) AS BIGINT) AS base FROM nodes, nn
)""",
    ]
    for k in range(1, iterations + 1):
        ctes.append(
            f"""c{k} AS (
  SELECT en.dnode AS node,
         sum(CAST(round(({d} * r{k - 1}.r) * en.frac) AS BIGINT))::BIGINT AS cin
  FROM en JOIN r{k - 1} ON r{k - 1}.node = en.s GROUP BY en.dnode
)"""
        )
        ctes.append(
            f"""r{k} AS (
  SELECT b.node, (b.base + coalesce(c{k}.cin, 0))::BIGINT AS r
  FROM b LEFT JOIN c{k} USING (node)
)"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT node, r AS rank_ppm FROM r{iterations}"
    )


SQL_PAGERANK = _pagerank_sql(3, 0.85)


def q_incremental_histogram_merge(spark, sf):
    """Incremental matview maintenance proof (operators/histogram.py
    partial_histogram + merge_partial_histograms): the events table
    split into two batches, each aggregated ALONE, then merged — the
    oracle is the DIRECT full aggregation, so the hash match proves
    the partial state merges associatively (what replaces the
    reference's recompute-from-scratch REFRESH at 100 TB)."""
    from ..operators.histogram import merge_partial_histograms, partial_histogram

    ev = _ev(spark, sf)
    halves = [
        partial_histogram(
            ev.filter(F.col("event_id") % 2 == i),
            "hour",
            ts="ts",
            id_col="event_id",
        )
        for i in (0, 1)
    ]
    merged = merge_partial_histograms(halves)
    return merged.select(
        _fmt(F.col("interval")).alias("bin_start"),
        F.col("events"),
        F.array_join(
            F.transform(F.col("ids"), lambda x: x.cast("string")), ","
        ).alias("ids_csv"),
    )


SQL_INCR_HIST = f"""
SELECT {_OFMT.format(c="date_trunc('hour', ts)")} AS bin_start,
       count(event_id)::BIGINT AS events,
       array_to_string(list_sort(list(event_id)), ',') AS ids_csv
FROM events GROUP BY date_trunc('hour', ts)
"""


def q_dq_constraints(spark, sf):
    """Declarative constraint report (operators/quality.py
    check_constraints): row rules fused into ONE scan, a uniqueness
    group-count, and an FK orphan LEFT ANTI join against orders —
    the lake-side analog of the reference's DDL CHECK/FK enforcement
    (create_public_schema.sql:539-683)."""
    from ..operators.quality import (
        check_constraints,
        in_range,
        is_in,
        matches,
        not_null,
    )

    ev = _ev(spark, sf)
    cust = load_table(spark, sf, "customer")
    return check_constraints(
        ev,
        row_rules=[
            not_null("event_id"),
            not_null("ts"),
            in_range("value", 0.0, 1000.0),
            is_in("event_type", ["view", "click", "purchase", "signup", "error"]),
            matches("props", r"^\{.*\}$"),
        ],
        unique=["event_id"],
        references=[("user_id", cust.select(F.col("c_custkey")), "c_custkey")],
    )


SQL_DQ = """
SELECT 'not_null(event_id)' AS rule,
       sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_violations
FROM events
UNION ALL
SELECT 'not_null(ts)', sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END)::BIGINT
FROM events
UNION ALL
SELECT 'in_range(value,0.0,1000.0)',
       sum(CASE WHEN value IS NOT NULL
                 AND NOT (value >= 0.0 AND value <= 1000.0)
            THEN 1 ELSE 0 END)::BIGINT
FROM events
UNION ALL
SELECT 'is_in(event_type)',
       sum(CASE WHEN event_type IS NOT NULL AND event_type NOT IN
                ('view', 'click', 'purchase', 'signup', 'error')
            THEN 1 ELSE 0 END)::BIGINT
FROM events
UNION ALL
SELECT 'matches(props)',
       sum(CASE WHEN props IS NOT NULL
                 AND NOT regexp_matches(props, '^\\{.*\\}$')
            THEN 1 ELSE 0 END)::BIGINT
FROM events
UNION ALL
SELECT 'unique(event_id)',
       coalesce(sum(n - 1), 0)::BIGINT
FROM (SELECT count(*) AS n FROM events
      WHERE event_id IS NOT NULL GROUP BY event_id)
UNION ALL
SELECT 'references(user_id)', count(*)::BIGINT
FROM events e
WHERE e.user_id IS NOT NULL
  AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id)
"""


def q_zorder_events_key(spark, sf):
    """Morton (Z-order) clustering key (operators/storage.py
    zorder_key): pure integer/bit projection interleaving the
    quantized (user_id, value) dimensions — the sort key
    write_zordered lays files out under so multi-dimensional range
    predicates prune via parquet min/max stats."""
    from ..operators.storage import zorder_key

    return _ev(spark, sf).select(
        "event_id",
        zorder_key(_ZORDER_COLS, bits=_ZORDER_BITS).alias("zkey"),
    )


def _zq_sql(col: str, lo: float, hi: float, bits: int) -> str:
    levels = 1 << bits
    return (
        f"least({levels - 1}, CAST(floor(((least(CAST({hi!r} AS DOUBLE), "
        f"greatest(CAST({lo!r} AS DOUBLE), CAST({col} AS DOUBLE))) "
        f"- CAST({lo!r} AS DOUBLE)) / CAST({hi - lo!r} AS DOUBLE)) "
        f"* CAST({float(levels)!r} AS DOUBLE)) AS BIGINT))"
    )


def _zorder_sql(cols, bits: int) -> str:
    n = len(cols)
    terms = []
    for bit in range(bits - 1, -1, -1):
        for ci, (col, lo, hi) in enumerate(cols):
            pos = bit * n + (n - 1 - ci)
            terms.append(f"((({_zq_sql(col, lo, hi, bits)} >> {bit}) & 1) << {pos})")
    return " | ".join(terms)


SQL_ZORDER = f"""
SELECT event_id, CAST({_zorder_sql(_ZORDER_COLS, _ZORDER_BITS)} AS BIGINT) AS zkey
FROM events
"""


# --- read-side proof of the z-order layout -------------------------------

_BBOX = (100.0, 200.0, -60.0, -30.0)  # lon_min, lon_max, lat_min, lat_max


def zorder_positions_artifact(sf_dir: str) -> str:
    """Materialization path for the z-ordered positions layout at a
    given scale-factor dir."""
    import os

    root = os.path.abspath(os.path.join(os.path.dirname(__file__), "..", ".."))
    base = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(root, ".artifacts", f"zorder_positions_{base}")


def positions_in_bbox(spark: SparkSession, path: str,
                      lon_min: float, lon_max: float,
                      lat_min: float, lat_max: float) -> DataFrame:
    """Bbox range query over a z-ordered positions layout — the QGIS
    panning workload the reference serves from a GiST index
    (create_materialized_views.sql:59-62).  Both range predicates push
    down to the parquet scan; because write_zordered laid files out
    along the Morton curve of (longitude, latitude), each file's
    min/max stats cover a small rectangle and the scan skips the
    files (and row groups) outside the box — on either dimension,
    which a single-column sort cannot do."""
    back = spark.read.parquet(path)
    return back.filter(
        (F.col("longitude") >= lon_min) & (F.col("longitude") <= lon_max)
        & (F.col("latitude") >= lat_min) & (F.col("latitude") <= lat_max)
    ).select("event_id", "longitude", "latitude")


def q_zorder_bbox_read(spark, sf):
    """Z-order write + bbox read end-to-end: events play positions
    (value → longitude on its native [0,500] grid; latitude derived as
    (event_id % 18000)/100 − 90), written via
    operators/storage.write_zordered, then read back through the bbox
    range query.  The oracle applies the same predicates to the same
    derived columns straight off the events view — layout changes
    WHERE bytes live, never WHICH rows qualify."""
    from ..operators.storage import write_zordered

    ev = load_table(spark, sf, "events")
    pos = ev.select(
        "event_id",
        F.col("value").alias("longitude"),
        (F.pmod(F.col("event_id"), F.lit(18000)) / F.lit(100.0) - F.lit(90.0)).alias(
            "latitude"
        ),
    )
    path = zorder_positions_artifact(sf)
    write_zordered(
        pos, path,
        [("longitude", 0.0, 500.0), ("latitude", -90.0, 90.0)],
        bits=12,
    )
    return positions_in_bbox(spark, path, *_BBOX)


SQL_ZORDER_BBOX = f"""
SELECT event_id, value AS longitude,
       (event_id % 18000) / 100.0 - 90 AS latitude
FROM events
WHERE value BETWEEN {_BBOX[0]!r} AND {_BBOX[1]!r}
  AND (event_id % 18000) / 100.0 - 90 BETWEEN {_BBOX[2]!r} AND {_BBOX[3]!r}
"""


def q_tpch_q10_returned_items(spark, sf):
    """TPC-H q10 shape (top returned-item customers): facts filtered
    on the pushed l_returnflag predicate, orders⋈lineitem shuffle on
    the orderkey, customer/nation broadcast, top-20 as a
    TakeOrderedAndProject over the aggregated frame."""
    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer")
    nat = load_table(spark, sf, "nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(rev) * 100).cast("bigint").alias("revenue_cents"))
        .orderBy(F.col("revenue_cents").desc(), F.col("c_custkey"))
        .limit(20)
    )


SQL_TPCH_Q10 = """
SELECT c_custkey, c_name, n_name,
       CAST(round(sum(l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)
         AS revenue_cents
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY 1, 2, 3
ORDER BY revenue_cents DESC, c_custkey LIMIT 20
"""


def q_tpch_q21_sole_late_supplier(spark, sf):
    """TPC-H q21 shape (suppliers who alone kept finished orders
    waiting): the double-correlated EXISTS / NOT EXISTS becomes a
    LEFT SEMI plus a LEFT ANTI self-join, both on the orderkey the
    facts are already shuffled on (exchange reuse); supplier dim
    broadcast; top-20 TakeOrdered.  'Late' = shipped >60 days after
    the order date (the testdata lineitem carries no
    receipt/commit dates)."""
    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = load_table(spark, sf, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    sup = load_table(spark, sf, "supplier")
    lines = li.join(
        orders.select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    ).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        ).alias("late"),
    )
    l1 = lines.filter(F.col("late"))
    others = lines.select(
        F.col("l_orderkey").alias("o_k"), F.col("l_suppkey").alias("o_s"),
        F.col("late").alias("o_late"),
    )
    waited = (
        l1.join(
            others,
            (F.col("l_orderkey") == F.col("o_k"))
            & (F.col("l_suppkey") != F.col("o_s")),
            "left_semi",
        )
        .join(
            others.filter(F.col("o_late")),
            (F.col("l_orderkey") == F.col("o_k"))
            & (F.col("l_suppkey") != F.col("o_s")),
            "left_anti",
        )
    )
    return (
        waited.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("_n"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        # second grain: s_name (the oracle's GROUP BY) — duplicate
        # supplier names must merge, not split
        .groupBy("s_name")
        .agg(F.sum("_n").cast("bigint").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(20)
    )


SQL_TPCH_Q21 = """
WITH li AS (
  SELECT l_orderkey, l_suppkey,
         l_shipdate > o_orderdate + INTERVAL 60 DAY AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
)
SELECT s_name, count(*)::BIGINT AS numwait
FROM li l1
JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE l1.late
  AND EXISTS (SELECT 1 FROM li l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM li l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey AND l3.late)
GROUP BY s_name
ORDER BY numwait DESC, s_name LIMIT 20
"""


def q_approx_sketch_report(spark, sf):
    """Approximate-aggregate error-contract check (operators/
    analytics.py sketch_accuracy_report): HLL++ distinct and
    approx_percentile bounds emitted as oracle-checked booleans — the
    driver hash-match VERIFIES the sketch tolerance rather than
    excluding the approximate path from correctness."""
    from ..operators.analytics import sketch_accuracy_report

    return sketch_accuracy_report(_ev(spark, sf))


SQL_APPROX_SKETCH = """
SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_exact,
       TRUE AS hll_ok, TRUE AS pct_ok
FROM events GROUP BY event_type
"""


def q_cube_priority_flag(spark, sf):
    """CUBE over (order priority × return flag) with grouping_id
    (engine extension, completes the grouping-sets family next to
    rollup_region_revenue): Catalyst expands the four grouping sets
    map-side — still ONE shuffle."""
    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .cube("o_orderpriority", "l_returnflag")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.round(F.sum(rev) * 100).cast("bigint").alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


SQL_CUBE = """
SELECT o_orderpriority, l_returnflag,
       CAST(GROUPING(o_orderpriority, l_returnflag) AS INTEGER) AS gid,
       CAST(round(sum(l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)
         AS revenue_cents,
       count(*)::BIGINT AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY CUBE (o_orderpriority, l_returnflag)
"""


REGISTRY: dict = {
    "forward_fill_reading": (q_forward_fill_reading, SQL_FORWARD_FILL),
    "rolling_value_avg": (q_rolling_value_avg, SQL_ROLLING_AVG),
    "event_transitions": (q_event_transitions, SQL_EVENT_TRANSITIONS),
    "profile_events": (q_profile_events, SQL_PROFILE_EVENTS),
    "session_window_native": (q_session_window_native, SQL_SESSION_WINDOW),
    "tpch_q14_promo": (q_tpch_q14_promo, SQL_TPCH_Q14),
    "tpch_q18_large_orders": (q_tpch_q18_large_orders, SQL_TPCH_Q18),
    "tpch_q19_or_predicates": (q_tpch_q19_or_predicates, SQL_TPCH_Q19),
    "cohort_retention": (q_cohort_retention, SQL_COHORT_RETENTION),
    "flt1_value_band": (q_flt1_value_band, SQL_FLT1),
    "flt5_events_on_day": (q_flt5_events_on_day, SQL_FLT5),
    "flt6_fromto_paris": (q_flt6_fromto_paris, SQL_FLT6),
    "agg1_histogram_hour_utc": (q_agg1_histogram_hour_utc, SQL_AGG1_HOUR),
    "agg1_histogram_day_paris": (q_agg1_histogram_day_paris, SQL_AGG1_PARIS),
    "agg1_histogram_week_utc": (q_agg1_histogram_week_utc, SQL_AGG1_WEEK),
    "agg1_histogram_noids": (q_agg1_histogram_noids, SQL_AGG1_NOIDS),
    "dst_histogram_hour_paris": (q_dst_histogram_hour_paris, SQL_DST_HIST),
    "dst_peak_hour_paris": (q_dst_peak_hour_paris, SQL_DST_PEAK),
    "agg5_paths_selected": (q_agg5_paths_selected, SQL_AGG5_SELECTED),
    "agg2_sliding_hour_counts": (q_agg2_sliding_hour_counts, SQL_AGG2),
    "agg3_peak_hour_paris": (q_agg3_peak_hour_paris, SQL_AGG3),
    "set1_union_distinct": (q_set1_union_distinct, SQL_SET1),
    "agg7_distinct_pairs": (q_agg7_distinct_pairs, SQL_AGG7),
    "agg8_active_sessions": (q_agg8_active_sessions, SQL_AGG8),
    "join1_events_per_customer": (q_join1_events_per_customer, SQL_JOIN1),
    "join2_details_star": (q_join2_details_star, SQL_JOIN2),
    "join4_dedup_latest": (q_join4_dedup_latest, SQL_JOIN4),
    "join5_runway_attribution": (q_join5_runway_attribution, SQL_JOIN5),
    "join5_runway_attribution_grid": (
        q_join5_runway_attribution_grid,
        SQL_JOIN5_GRID,
    ),
    "snk5_copy_remap": (q_snk5_copy_remap, SQL_SNK5),
    "state1_sessions": (q_state1_sessions, SQL_STATE1),
    "agg6_session_summaries": (q_agg6_session_summaries, SQL_AGG6),
    "state3_edges": (q_state3_edges, SQL_STATE3),
    "state4_debounced_edges": (q_state4_debounced_edges, SQL_STATE4),
    "state9_intention": (q_state9_intention, SQL_STATE9),
    "prj2_json_extract_cast": (q_prj2_json_extract_cast, SQL_PRJ2),
    "prj3_timestamp_roundtrip": (q_prj3_timestamp_roundtrip, SQL_PRJ3),
    "prj56_unit_compass": (q_prj56_unit_compass, SQL_PRJ56),
    "prj7_track_interpolation": (q_prj7_track_interpolation, SQL_PRJ7),
    "snk23_live_retention": (q_snk23_live_retention, SQL_SNK23),
    "matview_paths_period": (q_matview_paths_period, SQL_MATVIEW_PATHS),
    "skew_salted_rollup": (q_skew_salted_rollup, SQL_SKEW_ROLLUP),
    "snk4_geojson_paths": (q_snk4_geojson_paths, SQL_SNK4),
    "tpch_q1_pricing": (q_tpch_q1_pricing, SQL_TPCH_Q1),
    "tpch_q3_shipping": (q_tpch_q3_shipping, SQL_TPCH_Q3),
    "tpch_q5_region_revenue": (q_tpch_q5_region_revenue, SQL_TPCH_Q5),
    "tpch_q6_forecast": (q_tpch_q6_forecast, SQL_TPCH_Q6),
    "tpch_q4_semi_join": (q_tpch_q4_semi_join, SQL_TPCH_Q4),
    "anti_join_quiet_customers": (q_anti_join_quiet_customers, SQL_ANTI_QUIET),
    "rollup_region_revenue": (q_rollup_region_revenue, SQL_ROLLUP),
    "percentile_value_by_type": (q_percentile_value_by_type, SQL_PERCENTILE),
    "etl_full_pipeline": (q_etl_full_pipeline, SQL_ETL),
    "asof_last_error": (q_asof_last_error, SQL_ASOF),
    "range_join_error_windows": (q_range_join_error_windows, SQL_RANGE_JOIN),
    "rollup_time_multigrain": (q_rollup_time_multigrain, SQL_MULTIGRAIN),
    "funnel_conversion": (q_funnel_conversion, SQL_FUNNEL),
    "funnel_windowed": (q_funnel_windowed, SQL_FUNNEL_WINDOWED),
    "pivot_type_by_day": (q_pivot_type_by_day, SQL_PIVOT),
    "ntile_value_bands": (q_ntile_value_bands, SQL_NTILE),
    "cube_priority_flag": (q_cube_priority_flag, SQL_CUBE),
    "approx_sketch_report": (q_approx_sketch_report, SQL_APPROX_SKETCH),
    "tpch_q10_returned_items": (q_tpch_q10_returned_items, SQL_TPCH_Q10),
    "tpch_q21_sole_late_supplier": (
        q_tpch_q21_sole_late_supplier,
        SQL_TPCH_Q21,
    ),
    "zorder_events_key": (q_zorder_events_key, SQL_ZORDER),
    "zorder_bbox_read": (q_zorder_bbox_read, SQL_ZORDER_BBOX),
    "dq_constraints": (q_dq_constraints, SQL_DQ),
    "incremental_histogram_merge": (
        q_incremental_histogram_merge,
        SQL_INCR_HIST,
    ),
    "top_journeys": (q_top_journeys, SQL_TOP_JOURNEYS),
    "pagerank_event_types": (q_pagerank_event_types, SQL_PAGERANK),
    "rfm_scores": (q_rfm_scores, SQL_RFM),
    "mad_outliers": (q_mad_outliers, SQL_MAD),
}
