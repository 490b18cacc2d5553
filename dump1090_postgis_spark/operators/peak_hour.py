"""Sliding-window peak-hour detection (SURVEY §2.4 AGG-2/3/4, §2.6
SET-1/SRT-2; reference create_public_schema.sql:344-465:
peak_hour_all / peak_hour_landings / peak_hour_takeoffs).

Semantics matched:
- event universe: landings ∪ takeoffs with SQL UNION (duplicate
  eliminating!) for peak_hour_all — Spark's union is UNION ALL, so an
  explicit .distinct() is required for parity (SET-1);
- per event: COUNT(*) OVER (ORDER BY time RANGE BETWEEN '1 hour'
  PRECEDING AND CURRENT ROW) — trailing-hour count evaluated at every
  event (AGG-2), microsecond-exact window membership;
- window midpoint label: date_trunc('minute', time - 30 min) (AGG-4);
- top-1 per local day via row_number over (events DESC, peak_hour
  DESC) (AGG-3), output ORDER BY events DESC, peak_hour DESC (SRT-2).

Scale design: the reference's global ``ORDER BY time`` range frame is
a single-partition window — a hard bottleneck at scale.  The default
implementation partitions by a configurable time bucket
(``granularity_s``, default 1 hour) with bounded overlap copies: an
event whose trailing windows cross a bucket boundary is replicated
into the following bucket(s) as a non-emitting contributor, so every
trailing window is complete while the computation parallelizes across
buckets.  Results are identical to the global window (asserted in
tests); the copy factor is ceil(window/granularity) on the trailing
fraction of each bucket.  Hour granularity keeps the largest window
task at ~2 hours of events even when a single DAY would be one task's
worth of skew at 100×.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.timeutil import epoch_micros, to_local

PEAK_WINDOW_S = 3600


def union_events(landings: DataFrame, takeoffs: DataFrame) -> DataFrame:
    """SET-1: SQL UNION (dedup) of the two event streams.

    The reference unions FULL rows — ``select * from landings union
    select * from takeoffs`` (create_public_schema.sql peak_hour_all
    body) — with ids drawn from separate per-table sequences, so the
    distinct() practically never collapses cross-table rows; it exists
    for SQL-UNION parity.  Our ETL likewise numbers landings/takeoffs
    independently (plans/etl.py), matching that id regime.  Callers
    wanting instant-level dedup should project to (time, flight_id)
    before calling."""
    return landings.unionByName(takeoffs).distinct()


#: Default partition granularity for the overlap-copy sliding window.
#: Hour-level: at 100× data a calendar DAY of events in one window task
#: is the straggler; hour buckets give 24× finer parallelism.  The cost
#: is the overlap copy — ceil(window_s/granularity_s) extra copies of
#: the trailing fraction of each bucket (for window == granularity ==
#: 1 h that is one copy of every row, a bounded 2× — rows, not sort
#: state, and each bucket's sort is tiny).
DEFAULT_GRANULARITY_S = 3600


def sliding_hour_counts(
    events: DataFrame,
    ts: str = "time",
    window_s: int = PEAK_WINDOW_S,
    partitioned: bool = True,
    granularity_s: int = DEFAULT_GRANULARITY_S,
) -> DataFrame:
    """AGG-2: events in the trailing `window_s`, evaluated at each
    event.  Adds `events` (count) and `peak_hour` (window midpoint,
    AGG-4).

    ``partitioned=True`` (default) computes per time-bucket of
    ``granularity_s`` seconds with overlap copies — identical results
    to the global window (parity-asserted in tests), parallel across
    buckets.  An event whose trailing windows cross up to
    ``k = ceil(window_s/granularity_s)`` bucket boundaries is
    replicated into those later buckets as a non-emitting contributor.
    ``partitioned=False`` is the literal reference plan (one global
    window), kept for comparison/testing.
    """
    midpoint = F.date_trunc(
        "minute", F.col(ts) - F.expr(f"INTERVAL {window_s // 2} SECONDS")
    )

    if not partitioned:
        w = (
            Window.orderBy(epoch_micros(F.col(ts)))
            .rangeBetween(-window_s * 1_000_000, Window.currentRow)
        )
        return events.withColumn("events", F.count(F.lit(1)).over(w)).withColumn(
            "peak_hour", midpoint
        )

    gran_us = granularity_s * 1_000_000
    win_us = window_s * 1_000_000
    k = -(-window_s // granularity_s)  # ceil: spill copies per event
    eus = epoch_micros(F.col(ts))
    cols = events.columns
    # ONE scan emits the own copy (j=0) and the overlap copies (j>=1)
    # from a single explode — the previous base ∪ spill shape scanned
    # the events source twice (no runtime exchange reuse: different
    # projections), which at scale is a second full corpus pass.
    # An event at e contributes to trailing windows of targets t in
    # [e, e+window]; targets in bucket+j exist iff e mod gran >= j*gran
    # - window — replicate e forward as a contributor only, never
    # emitted.
    # pmod, not %: the inequality assumes the NON-NEGATIVE remainder
    # eus − bucket·gran (bucket floors toward −inf), but Spark's % is
    # sign-of-dividend — for pre-1970 (negative-epoch) timestamps the
    # negative remainder falsely fails the spill test and
    # boundary-crossing contributors are dropped (undercounted
    # trailing windows).  Out of ADS-B domain, but the operator is
    # generic over any events frame.
    both = (
        events.withColumn("_j", F.explode(F.sequence(F.lit(0), F.lit(k))))
        .filter(
            (F.col("_j") == 0)
            | (
                F.pmod(eus, F.lit(gran_us))
                >= F.col("_j").cast("long") * F.lit(gran_us) - F.lit(win_us)
            )
        )
        .withColumn("_bucket", F.floor(eus / gran_us) + F.col("_j"))
        .withColumn("_own", F.col("_j") == 0)
        .drop("_j")
    )
    w = (
        Window.partitionBy("_bucket")
        .orderBy(epoch_micros(F.col(ts)))
        .rangeBetween(-win_us, Window.currentRow)
    )
    return (
        both.withColumn("events", F.count(F.lit(1)).over(w))
        .filter(F.col("_own"))
        .select(*cols, "events")
        .withColumn("peak_hour", midpoint)
    )


def peak_hour(
    events: DataFrame,
    ts: str = "time",
    tz: str = "Europe/Paris",
    window_s: int = PEAK_WINDOW_S,
    partitioned: bool = True,
    granularity_s: int = DEFAULT_GRANULARITY_S,
) -> DataFrame:
    """AGG-2+3+4: the trailing-hour window with the most events, top-1
    per local-time day. Returns (day, peak_hour, events) ordered by
    events DESC, peak_hour DESC."""
    counted = sliding_hour_counts(events, ts, window_s, partitioned, granularity_s)
    day = F.to_date(to_local(F.col("peak_hour"), tz)).alias("day")
    ranked = counted.select(day, "peak_hour", "events").withColumn(
        "rnmax",
        F.row_number().over(
            Window.partitionBy("day").orderBy(
                F.desc("events"), F.desc("peak_hour")
            )
        ),
    )
    return (
        ranked.filter(F.col("rnmax") == 1)
        .drop("rnmax")
        .orderBy(F.desc("events"), F.desc("peak_hour"))
    )

