"""Time-binned event histograms with zero-fill (SURVEY §2.4 AGG-1 +
§2.3 JOIN-3; reference create_public_schema.sql:182-200 UTC variant,
:286-307 and :480-502 Europe/Paris variants).

Semantics matched:
- bin ∈ {hour, day, week, month, year} (validated in Python — the
  reference interpolates `CONCAT('1 ', bin)::interval`);
- counts + array_agg(flight_id) per bin;
- bins with no events appear with count 0 / empty list (LEFT OUTER
  JOIN from a generated time axis);
- ORDER BY time ASC (SRT-1).

Scale notes: the aggregate side is a map-side-combinable groupBy on
the truncated timestamp (low cardinality ⇒ tiny shuffle). The time
axis is a few thousand rows at most → broadcast; Catalyst plans
BroadcastHashJoin with the axis as the build side. At 100 TB the only
heavy stage is the scan+partial-agg, which is the floor for any
histogram.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.timeutil import bin_interval, to_local, validate_bin


def time_axis_df(
    spark: SparkSession, starts, ends, bin_: str, tz: str | None = None
) -> DataFrame:
    """JOIN-3 zero-fill axis: generate_series(date_trunc(bin, starts),
    date_trunc(bin, ends), '1 bin') as a one-column DataFrame
    (``interval``).
    ``tz`` localizes the bounds first (FLT-6 wall-clock binning) — the
    ONE axis definition every tz and non-tz histogram shares."""
    b = validate_bin(bin_)
    lo = F.lit(starts).cast("timestamp_ntz")
    hi = F.lit(ends).cast("timestamp_ntz")
    if tz:
        lo, hi = to_local(lo, tz), to_local(hi, tz)
    return spark.range(1).select(
        F.explode(
            F.sequence(F.date_trunc(b, lo), F.date_trunc(b, hi), bin_interval(b))
        ).alias("interval")
    )


def events_histogram(
    events: DataFrame,
    starts,
    ends,
    bin_: str = "hour",
    ts: str = "time",
    id_col: str = "flight_id",
    tz: str | None = None,
    include_ids: bool = True,
) -> DataFrame:
    """AGG-1: zero-filled histogram of events between `starts`/`ends`.

    Returns columns: interval (bin start), events (count, 0 for empty
    bins), ids (sorted id list; empty for empty bins). When ``tz``
    is given, binning happens in that timezone's local wall-clock
    (reference's Europe/Paris variants).

    ``include_ids=False`` is the scale variant: reference parity
    requires ``array_agg(flight_id)`` per bin, but a hot bin at 100×
    scale makes one giant array row — callers that only chart counts
    should skip id collection (pure count aggregate, fully map-side
    combinable, constant-size rows).
    """
    b = validate_bin(bin_)
    spark = events.sparkSession

    t = F.col(ts)
    if tz:
        t = to_local(t, tz)
        lo = to_local(F.lit(starts).cast("timestamp_ntz"), tz)
        hi = to_local(F.lit(ends).cast("timestamp_ntz"), tz)
    else:
        lo = F.lit(starts).cast("timestamp_ntz")
        hi = F.lit(ends).cast("timestamp_ntz")

    # Reference parity (create_public_schema.sql:182-200): the aggregate
    # subquery has NO time predicate — the generated axis bounds the
    # output via the join, so an event exactly at `ends` still lands in
    # the final bin.  Equivalent pushdown-friendly filter: truncated
    # bin within [trunc(starts), trunc(ends)].
    aggs = [F.count(id_col).alias("events")]
    if include_ids:
        aggs.append(F.array_sort(F.collect_list(id_col)).alias("ids"))
    binned = (
        events.filter(
            (t >= F.date_trunc(b, lo)) & (t < F.date_trunc(b, hi) + bin_interval(b))
        )
        .groupBy(F.date_trunc(b, t).alias("interval"))
        .agg(*aggs)
    )

    axis = time_axis_df(spark, starts, ends, b, tz=tz)

    out_cols = [
        F.col("interval"),
        F.coalesce(F.col("events"), F.lit(0)).cast("long").alias("events"),
    ]
    if include_ids:
        # the empty-bin fallback array takes the COLLECTED list's own
        # element type — a hardcoded array<bigint> fails coalesce's
        # common-type resolution for string/other id columns at
        # analysis time (id_col is an advertised parameter)
        ids_type = binned.schema["ids"].dataType.simpleString()
        out_cols.append(
            F.coalesce(F.col("ids"), F.array().cast(ids_type)).alias("ids")
        )
    return (
        axis.join(binned, "interval", "left")
        .select(*out_cols)
        .orderBy("interval")
    )


def partial_histogram(
    df: DataFrame,
    bin: str = "hour",
    ts: str = "time",
    id_col: str = "flight_id",
) -> DataFrame:
    """Mergeable partial of the AGG-1 histogram: ``(interval, events,
    ids)`` with NO zero-fill axis — the per-partition/per-batch state
    an incremental matview maintains.  Counts are sums and id lists
    concatenate, so partials combine associatively (see
    :func:`merge_partial_histograms`)."""
    return (
        df.groupBy(F.date_trunc(bin, F.col(ts)).alias("interval"))
        .agg(
            F.count(id_col).alias("events"),
            F.array_sort(F.collect_list(id_col)).alias("ids"),
        )
    )


def merge_partial_histograms(parts: list[DataFrame]) -> DataFrame:
    """Merge AGG-1 partials: union → re-aggregate (sum counts, flatten
    + re-sort ids).  This is the 100 TB matview-refresh pattern — a
    new day's partition aggregates alone and MERGES into the standing
    summary instead of recomputing history (the reference's
    `REFRESH MATERIALIZED VIEW` recomputes from scratch,
    create_materialized_views.sql:51-76).  Equality with the direct
    full aggregation is oracle-checked (`incremental_histogram_merge`).
    """
    if not parts:
        raise ValueError("need at least one partial")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.groupBy("interval").agg(
        F.sum("events").cast("bigint").alias("events"),
        F.array_sort(F.flatten(F.collect_list("ids"))).alias("ids"),
    )
