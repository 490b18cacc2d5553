"""Keyed stateful sessionization for streaming (SURVEY §2.8
STATE-1..5; reference flights.py:14-137, models.py:110-270).

:func:`advance_session` implements the whole reference state machine
for one hexident.  Two stateful operators drive it: by default the
row-based ``transformWithState`` processor
(``streaming.tws.SessionProcessor``); when no compatible protobuf
runtime is installed, the legacy ``applyInPandasWithState`` handler
in this module (:func:`sessionize_updates`) is the fallback (see
``pipeline.resolve_stream_engine``).  The state machine:

- STATE-1 session pool with inactivity timeout (MAX_AGE 300 s,
  ``sessionize.SESSION_MAX_AGE_S``; processing-time, exactly the
  reference's eviction semantics: a processing-time timer in the TWS
  processor, GroupStateTimeout.ProcessingTimeTimeout in the legacy
  handler);
- STATE-2 per-session accumulation (first/last_seen, last-non-null
  field values per the MSG-type dispatch);
- STATE-3 onground edge detection (False→True landing, True→False
  takeoff; first observation initializes only);
- STATE-4 2 s debounce (``events.EVENT_DEBOUNCE_S``) against the last
  candidate event (clock advances on suppressed candidates too);
- STATE-5 emission of event rows for downstream attribution (the
  dataflow edge replaces the reference's pub/sub callbacks, STATE-6).

Either operator emits one row per detected (debounced) event plus, on
timeout, a final flight-summary row — mirroring SNK-1's batched
upserts via foreachBatch on the caller side.
"""

from __future__ import annotations

from collections.abc import Iterable
from typing import Any

import pandas as pd

from ..operators.events import EVENT_DEBOUNCE_S
from ..operators.parse import ADMISSION_ALT_ABOVE, ADMISSION_ALT_BELOW
from ..operators.sessionize import SESSION_MAX_AGE_S

EVENT_OUTPUT_SCHEMA = (
    "hexident string, kind string, event_time timestamp, "
    "longitude double, latitude double, track double, "
    "first_seen timestamp, last_seen timestamp, n_messages long, "
    "callsign string"
)

STATE_SCHEMA = (
    "first_seen long, last_seen long, n_messages long, "
    "onground boolean, last_event long, callsign string, "
    "last_lon double, last_lat double, prev_lon double, prev_lat double"
)

# The batch operators define the rules; the handler reads them in the
# units it clocks in.
SESSION_TIMEOUT_MS = SESSION_MAX_AGE_S * 1_000
DEBOUNCE_US = int(EVENT_DEBOUNCE_S * 1_000_000)


def _interp_track(prev_lon, prev_lat, lon, lat) -> float | None:
    """PRJ-7 (shared.py:36-50) — scalar form for the state handler.
    atan2(0, 0) == 0 → compass 90.0, matching numpy and the batch
    path (the reference does not special-case identical points)."""
    import math

    if prev_lon is None or lon is None:
        return None
    dx, dy = lon - prev_lon, lat - prev_lat
    return (450.0 - math.degrees(math.atan2(dy, dx))) % 360.0


def _has(v) -> bool:
    return v is not None and not (isinstance(v, float) and pd.isna(v))


def summary_row(hexident: str, state_tuple: tuple) -> dict:
    """STATE-1 eviction payload: the final flight-summary row built
    from a session state tuple (shared by both streaming APIs)."""
    first_seen, last_seen, n, *_rest = state_tuple
    return {
        "hexident": hexident,
        "kind": "flight_summary",
        "event_time": pd.Timestamp(last_seen, unit="us"),
        "longitude": None,
        "latitude": None,
        "track": None,
        "first_seen": pd.Timestamp(first_seen, unit="us"),
        "last_seen": pd.Timestamp(last_seen, unit="us"),
        "n_messages": n,
        "callsign": state_tuple[5],
    }


def advance_session(
    hexident: str, state_tuple: tuple | None, rows
) -> tuple[bool, tuple, list[dict]]:
    """The pure state-transition core of the reference machine
    (STATE-2..5 + FLT-2 admission), shared by the legacy
    ``applyInPandasWithState`` handler and the Spark-4 row-based
    ``transformWithState`` processor so the two APIs cannot drift.
    ``rows`` iterates time-ordered messages with attribute access
    (pandas ``itertuples`` or pyspark ``Row``); returns
    ``(admitted, new_state_tuple, event_rows)``.
    """
    if state_tuple is not None:
        (first_seen, last_seen, n, onground, last_event, callsign,
         last_lon, last_lat, prev_lon, prev_lat) = state_tuple
        admitted = True
    else:
        first_seen = last_seen = None
        n = 0
        onground = None
        last_event = None
        callsign = None
        last_lon = last_lat = prev_lon = prev_lat = None
        admitted = False

    out_rows: list[dict] = []

    for row in rows:
        # PRJ-3 NULL-on-fail timestamps: a row whose gen_date_time
        # failed to parse (pd.NaT here) cannot be ordered or clocked —
        # NaT.value is int64-MIN, which would poison first_seen and
        # later overflow pd.Timestamp(us) at emit, failing the whole
        # streaming batch.  The reference's strptime RAISES on such
        # lines and its malformed gate drops them (never admitting a
        # flight), so skip BEFORE the admission test.
        if pd.isna(row.gen_date_time):
            continue
        # FLT-1/FLT-2 admission (flights.py:86-108 CASE B): until a
        # flight exists, only MSG2, or MSG3 with an altitude inside
        # parse's admission band, creates it; other messages are
        # dropped.
        if not admitted:
            tt0 = row.transmission_type
            ok = tt0 == 2 or (
                tt0 == 3
                and _has(row.altitude)
                and ADMISSION_ALT_ABOVE < row.altitude < ADMISSION_ALT_BELOW
            )
            if not ok:
                continue
            admitted = True

        ts_us = int(pd.Timestamp(row.gen_date_time).value // 1_000)
        if first_seen is None:
            first_seen = ts_us
        last_seen = max(last_seen or ts_us, ts_us)
        n += 1
        if row.callsign is not None and isinstance(row.callsign, str):
            callsign = row.callsign

        # Edge state advances ONLY from valid position rows — the
        # reference's update_onground is called solely from the
        # MSG3-with-lon/lat/alt and MSG2-with-lon/lat branches
        # (models.py:196-215); onground carried by MSG1/4/8 updates
        # a plain attribute, never the event state (_onground).
        tt = row.transmission_type
        valid_position = _has(row.longitude) and _has(row.latitude) and (
            tt == 2 or (tt == 3 and _has(row.altitude))
        )
        if not valid_position:
            continue

        prev_lon, prev_lat = last_lon, last_lat
        last_lon, last_lat = float(row.longitude), float(row.latitude)

        og = row.onground
        if _has(og):
            og = bool(og)
            if onground is not None and og != onground:
                # STATE-3 edge; STATE-4 debounce vs last candidate
                if last_event is None or ts_us - last_event > DEBOUNCE_US:
                    out_rows.append(
                        {
                            "hexident": hexident,
                            "kind": "landing" if og else "takeoff",
                            "event_time": pd.Timestamp(ts_us, unit="us"),
                            "longitude": last_lon,
                            "latitude": last_lat,
                            "track": _interp_track(
                                prev_lon, prev_lat, last_lon, last_lat
                            ),
                            "first_seen": pd.Timestamp(first_seen, unit="us"),
                            "last_seen": pd.Timestamp(last_seen, unit="us"),
                            "n_messages": n,
                            "callsign": callsign,
                        }
                    )
                # reference updates the clock even when suppressed
                last_event = ts_us
            onground = og

    new_state = (first_seen, last_seen, n, onground, last_event, callsign,
                 last_lon, last_lat, prev_lon, prev_lat)
    return admitted, new_state, out_rows


def sessionize_updates(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: Any
) -> Iterable[pd.DataFrame]:
    """applyInPandasWithState handler. Input rows: hexident,
    gen_date_time, transmission_type, onground, longitude, latitude,
    altitude, callsign (the parsed message projection, FLT-3 dispatch
    applied upstream)."""
    hexident = key[0]

    if state.hasTimedOut:
        # STATE-1 eviction: emit the final flight summary row
        if state.exists:
            yield pd.DataFrame([summary_row(hexident, tuple(state.get))])
        state.remove()
        return

    # sort the WHOLE group, not each Arrow chunk: a key whose batch
    # volume exceeds arrow.maxRecordsPerBatch arrives as several pdfs
    # in shuffle order, and per-chunk sorting would feed the edge
    # machine time-disordered rows across chunk boundaries (spurious
    # or lost landing/takeoff events).  The concat buffers one key's
    # one-batch rows — the same bound the state handler already
    # carries.  Stable sort keeps arrival order for equal timestamps.
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if chunks:
        batch = pd.concat(chunks, ignore_index=True).sort_values(
            "gen_date_time", kind="stable"
        )
        rows_iter = batch.itertuples(index=False)
    else:
        rows_iter = iter(())

    admitted, new_state, out_rows = advance_session(
        hexident, tuple(state.get) if state.exists else None, rows_iter
    )

    if admitted:  # never create state for unadmitted hexidents
        state.update(new_state)
        state.setTimeoutDuration(SESSION_TIMEOUT_MS)

    if out_rows:
        yield pd.DataFrame(out_rows)
