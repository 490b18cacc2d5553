"""Edge (transition) detection, debounce, and intention classification
(SURVEY §2.8 STATE-3, STATE-4, STATE-9).

Reference semantics:
- STATE-3 (models.py:218-228): on `onground` flip False→True emit a
  *landing*, True→False emit a *takeoff*; the first observation only
  initializes state (no event).
- STATE-4 (models.py:256-270): suppress an event within 2 s of the
  previous *candidate* event (the reference updates its last-event
  timestamp even for suppressed events) — i.e. keep a candidate iff
  its gap to the immediately preceding candidate exceeds the window.
  That is exactly `lag(ts) over (partition by key order by ts)`, no
  iteration needed.
- STATE-9 (models.py:37-49): intention classification
  (departure/arrival/enroute/unknown) — declared in the reference but
  never implemented; implemented here per its docstring.

All three are window functions over partitionBy(key).orderBy(ts) —
one shuffle on the key, shared with sessionization's partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.timeutil import epoch_micros

EVENT_DEBOUNCE_S = 2.0  # models.py:268


def detect_onground_edges(
    df: DataFrame,
    key_cols: tuple[str, ...] = ("hexident", "session_id"),
    ts: str = "gen_date_time",
) -> DataFrame:
    """STATE-3: per session, ordered by time, find `onground` transitions.

    Returns rows at the transition points with `event_type` ∈
    {'landing', 'takeoff'}. Rows where onground is NULL don't carry the
    field (FLT-3) and are ignored, matching the reference which only
    calls update_onground when the message carries onground.
    """
    w = Window.partitionBy(*key_cols).orderBy(ts)
    carried = df.filter(F.col("onground").isNotNull())
    prev = F.lag("onground").over(w)
    return (
        carried.withColumn("prev_onground", prev)
        .filter(
            F.col("prev_onground").isNotNull()
            & (F.col("prev_onground") != F.col("onground"))
        )
        .withColumn(
            "event_type",
            F.when(F.col("onground"), F.lit("landing")).otherwise(F.lit("takeoff")),
        )
    )


def debounce_events(
    events: DataFrame,
    key_cols: tuple[str, ...] = ("hexident", "session_id"),
    ts: str = "gen_date_time",
    window_s: float = EVENT_DEBOUNCE_S,
) -> DataFrame:
    """STATE-4: keep a candidate event iff the gap to the previous
    candidate (kept OR suppressed) exceeds `window_s`.

    Because the reference advances its last-event clock on suppressed
    events too, the predicate compares against lag(ts) over ALL
    candidates — a single window pass, not an iterative recurrence.
    """
    w = Window.partitionBy(*key_cols).orderBy(ts)
    gap = epoch_micros(F.col(ts)) - F.lag(epoch_micros(F.col(ts))).over(w)
    return (
        events.withColumn("_gap", gap)
        .filter(F.col("_gap").isNull() | (F.col("_gap") > int(window_s * 1_000_000)))
        .drop("_gap")
    )


def classify_intention(flights: DataFrame) -> DataFrame:
    """STATE-9 (models.py:37-49 docstring, never implemented in the
    reference — extension): departure if first seen on ground, arrival
    if it ends on ground / descending, else enroute; unknown when the
    signals are absent OR the session never left the ground (a
    taxi-only / ground-test session both starts AND ends on ground —
    calling that 'enroute', the one class it certainly is not, was the
    fall-through before).

    Reads ``first_onground``, ``last_onground`` and ``any_airborne``
    (a required column: plans/etl.py aggregates it per session).
    Endpoint flags alone cannot tell a taxi-only session from a
    complete gate-to-gate flight — both start AND end on ground
    (round-10 advisor).  A session that WAS airborne in between
    followed the reference's own departure rule ("first recorded
    position was onground", models.py:42) and is labeled 'departure';
    with ``any_airborne`` NULL or false the ambiguous both-onground
    case stays 'unknown'."""
    first = F.coalesce(F.col("first_onground"), F.lit(False))
    last = F.coalesce(F.col("last_onground"), F.lit(False))
    flew = F.coalesce(F.col("any_airborne"), F.lit(False))
    return flights.withColumn(
        "intention",
        F.when(first & ~last, "departure")
        .when(last & ~first, "arrival")
        .when(first & last & flew, "departure")
        .when(first & last, "unknown")
        .when(
            F.col("first_onground").isNull()
            & F.col("last_onground").isNull(),
            "unknown",
        )
        .otherwise("enroute"),
    )


def transition_counts(
    df: DataFrame,
    key: str = "user_id",
    type_col: str = "event_type",
    ts: str = "ts",
    tiebreak: str = "event_id",
) -> DataFrame:
    """Event-transition (Markov edge) counts: how often each
    ``from → to`` event-type pair occurs consecutively within a key's
    timeline — the funnel/journey matrix behind drop-off analysis,
    next-event prediction features, and anomalous-flow detection.
    Generalizes STATE-3's single hard-coded landing/takeoff edge to
    the full type×type matrix.

    One ``lag`` window per key (keyed shuffle + partition-local sort,
    exactly the sessionize exchange), then a partial-agg groupBy on
    the tiny type-pair space.  ``tiebreak`` makes same-timestamp
    ordering total, so counts are deterministic.
    """
    w = Window.partitionBy(key).orderBy(ts, tiebreak)
    return (
        df.select(
            F.lag(type_col).over(w).alias("from_type"),
            F.col(type_col).alias("to_type"),
        )
        .filter(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_transitions"))
    )
