"""Spark-4 ``transformWithState`` twin of the session handler.

Same reference state machine as ``state.sessionize_updates`` (STATE-1..5,
`flights.py:14-137` / `models.py:110-270`) expressed through the
row-based arbitrary-stateful-processing API,
``groupBy("hexident").transformWithState(SessionProcessor(), ...)``
(physical operator ``TransformWithStateInPySparkExec``): typed
``ValueState`` instead of a packed tuple-with-schema, explicit
processing-time timers instead of ``GroupStateTimeout``, and a
processor object whose lifecycle Spark manages.  The per-row
transition logic is IMPORTED from ``state.advance_session`` — one
core, two APIs, no drift.

Rows in, rows out: each key's input arrives as an iterator of
``Row`` and each event leaves as one ``Row``, so no pandas object is
built per key — on the live feed the per-key pandas frames and their
pandas→Arrow conversion, not the session logic, dominated the
stateful stage.  Timestamps arrive as tz-aware ``datetime`` and leave
as naive UTC ``pd.Timestamp``, which Arrow stores as UTC — the event
times are the same instants the legacy handler emits under any
session time zone.

Operationally this path requires the RocksDB state store
(``spark.sql.streaming.stateStore.providerClass = ...RocksDBStateStoreProvider``)
— which is also the right choice at scale: state lives off-heap and
spills, so a 100 TB-feed session pool is bounded by disk, not executor
heap.  This is the RECOMMENDED (and, where the transport is
available, default-selected) engine — ``pipeline.start_pipeline``
dispatches ``engine='auto'`` to it; the legacy
``applyInPandasWithState`` handler remains for HDFS-backed state and
protobuf-less environments.

Restarts: one guard serves both engines.
:func:`assert_checkpoint_state_compatible` reads the checkpoint through
Spark's own ``state-metadata`` source and, before the query starts,
refuses state the resolved engine cannot resume — another engine's or
another operator's, or this handler's under a renamed state variable —
naming the migration routes.  A checkpoint URI Spark cannot reach fails
the start.

Per-key cost: every ValueState/timer call is ONE protobuf message over
the Python↔JVM state-server socket (see
``pyspark.sql.streaming.value_state_client``).  A key with input rows
in a batch costs THREE round trips — the runtime's
``set_implicit_key``, then ``get()`` and ``update()`` — plus one
``registerTimer`` per session lifetime:

- ``get()`` returns None for absent state — no ``exists()`` probe;
- LAZY timers: the eviction deadline is stored IN the session state
  (it rides the existing update) and ONE timer is registered per
  session lifetime; when the timer fires early, the handler compares
  against the stored deadline and re-arms to it.  Emission times are
  unchanged (a summary still appears exactly SESSION_TIMEOUT_MS after
  the last admitted message) — parity pinned by the legacy-equality
  tests.
"""

from __future__ import annotations

import json
from collections.abc import Iterator
from operator import attrgetter

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
from pyspark.sql.streaming.stateful_processor import (
    ExpiredTimerInfo,
    TimerValues,
)

from .state import (
    EVENT_OUTPUT_SCHEMA,
    SESSION_TIMEOUT_MS,
    STATE_SCHEMA,
    advance_session,
    summary_row,
)

ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)

#: TWS-side state = the shared session tuple + the lazy-timer fields:
#: the eviction deadline (ms, processing time) and whether a physical
#: timer is armed for this session.  Packing them INTO the session
#: state means they ride the existing get/update round-trips for free.
#:
#: STATE-SCHEMA COMPATIBILITY: appending these two fields broke
#: deserialization of checkpoints written by the pre-lazy-timer
#: handler (which stored the bare STATE_SCHEMA tuple under the name
#: ``"session"``).  The state is therefore VERSIONED by name —
#: ``TWS_STATE_NAME = "session_v2"`` — which prevents the silent
#: MISPARSE of ``packed[-2]/packed[-1]`` as session fields.  It does
#: NOT by itself make the restart fail: Spark 4's transformWithState
#: permits adding and removing state variables across restarts, so a
#: restart from a pre-rename checkpoint SUCCEEDS with an empty
#: ``session_v2`` column family, silently dropping every in-flight
#: session stored under the old ``"session"`` name (measured on this
#: Spark build: old-name checkpoint → new processor → batches commit
#: cleanly, no error).  The loud failure is therefore driver-side:
#: :func:`assert_checkpoint_state_compatible` raises BEFORE the query
#: starts when the recorded state-variable names don't match this
#: handler's.  Bump the suffix on any future schema change.
TWS_STATE_SCHEMA = STATE_SCHEMA + ", deadline_ms long, timer_armed boolean"
TWS_STATE_NAME = "session_v2"

#: The physical operator each live engine's session stage runs, as a
#: checkpoint's operator metadata records it.  Spark refuses to
#: restart a checkpoint written by another operator
#: (``STREAMING_STATEFUL_OPERATOR_NOT_MATCH_IN_STATE_METADATA``), but
#: only inside the started query and without saying how to migrate —
#: :func:`assert_checkpoint_state_compatible` refuses first.
ENGINE_OPERATORS = {
    "tws": "transformWithStateInPySparkExec",
    "legacy": "applyInPandasWithState",
}


def assert_checkpoint_state_compatible(
    spark: SparkSession, checkpoint_dir: str, engine: str
) -> None:
    """Raise before the query starts if ``engine`` (``'tws'`` |
    ``'legacy'``) cannot resume the session state in ``checkpoint_dir``.

    The checkpoint is read only through Spark's ``state-metadata``
    source (one job): a row per state store of each stateful operator,
    with its ``operatorName`` and, for a transformWithState operator,
    its ``stateVariables`` in ``operatorProperties``.  Two mismatches
    are refused:

    - an operator other than the engine's (:data:`ENGINE_OPERATORS`):
      the other live engine, e.g. after ``engine='auto'`` switched
      engines because a protobuf runtime appeared or went away, or the
      pandas flavour of this processor
      (``transformWithStateInPandasExec``).  Spark would fail the
      restart inside the query;
    - user state variables (internal ``$`` names aside) other than
      ``TWS_STATE_NAME``: Spark accepts the rename as schema evolution
      and would silently drop every in-flight session stored under the
      old name.

    A fresh or absent directory has no rows and passes; so does
    metadata Spark cannot read (the source logs
    ``STDS_FAILED_TO_READ_OPERATOR_METADATA`` and returns no rows —
    Spark's own validation owns such a checkpoint).  A checkpoint URI
    Spark cannot reach raises the reader's error: the query could not
    write its checkpoint there either.

    Migration: either drain the old query with the engine that wrote
    it (stop the feed, let every session evict and emit) and start on
    a FRESH checkpoint directory, or — from a transformWithState
    checkpoint — carry the in-flight sessions across with
    :func:`legacy_session_initial_state` (naming the recorded state
    variable) + ``event_stream_tws(..., initial_state=...)``, which
    replays them into the new checkpoint's ``session_v2`` on the first
    batch.
    """
    rows = (
        spark.read.format("state-metadata").load(checkpoint_dir)
        .select("operatorName", "operatorProperties").collect()
    )
    operators = {r.operatorName for r in rows}
    names = {
        v["stateName"]
        for r in rows if r.operatorProperties
        for v in json.loads(r.operatorProperties).get("stateVariables", [])
        if not v["stateName"].startswith("$")
    }
    expected = ENGINE_OPERATORS[engine]
    if operators <= {expected} and names <= {TWS_STATE_NAME}:
        return
    routes = [
        "drain the old query with the engine that wrote it and restart "
        "on a fresh checkpoint directory"
    ]
    if operators != {expected}:
        problem = (
            f"was written by the stateful operator {sorted(operators)}, but "
            f"engine {engine!r} runs {expected!r}; Spark refuses that "
            "restart inside the started query"
        )
        routes += [
            f"restart it with engine={e!r}"
            for e, op in ENGINE_OPERATORS.items() if {op} == operators
        ]
    else:
        problem = (
            f"was written with TWS state variables {sorted(names)}, but "
            f"this handler uses {TWS_STATE_NAME!r}; Spark would restart "
            "cleanly and silently DROP every in-flight session stored "
            "under the old name"
        )
    if engine == "tws" and names:
        old = " or ".join(repr(n) for n in sorted(names))
        routes.append(
            "migrate the in-flight sessions to a fresh checkpoint with "
            f"legacy_session_initial_state(spark, {checkpoint_dir!r}, "
            f"state_name={old}) + event_stream_tws(..., initial_state=...)"
        )
    raise RuntimeError(
        f"checkpoint {checkpoint_dir!r} {problem}. Either "
        + ", or ".join(routes) + "."
    )


#: STATE_SCHEMA field names, in declaration order — the column
#: contract between the state-store reader output and
#: handleInitialState.
_STATE_FIELD_NAMES = [f.split()[0] for f in STATE_SCHEMA.split(", ")]

#: Sort key of the handler's whole-group sort.
_BY_TIME = attrgetter("gen_date_time")


def legacy_session_initial_state(
    spark,
    checkpoint_dir: str,
    state_name: str = "session",
) -> DataFrame:
    """The in-flight sessions of a pre-``session_v2`` checkpoint as an
    initial-state frame for :func:`event_stream_tws` — the MIGRATION
    path the state-name guard points at (round-10 verdict #4).

    Reads the legacy ``session`` column family offline through Spark's
    state-store reader (``spark.read.format("statestore")`` with
    ``stateVarName`` — the transformWithState flavor of the reader),
    and reshapes it to (hexident, <STATE_SCHEMA fields>).  Start the
    UPGRADED handler on a FRESH checkpoint with
    ``event_stream_tws(parsed, initial_state=<this frame>)``:
    ``handleInitialState`` replays each row into ``session_v2`` on the
    first batch — field accumulation (first_seen, n_messages,
    callsign, onground edge state) carries across, so no in-flight
    session is dropped and no summary is lost.  The eviction clock
    restarts at migration time (+SESSION_TIMEOUT_MS from the first
    batch — the legacy deadline was processing-time anyway, so any
    stop-the-query migration window already shifted it).

    Scale: the reader is a parallel scan of the state store's
    partitions (no driver collect); the initial-state frame shuffles
    once on the grouping key, same as any first batch.

    Time zone: the session's ``first_seen``/``last_seen``/
    ``last_event`` are UTC epoch microseconds.  The pandas flavour of
    the processor derived them from session-local wall-clock values,
    so a checkpoint it wrote under a non-UTC
    ``spark.sql.session.timeZone`` carries them shifted by that zone's
    offset (``session.get_spark`` pins UTC, where the two agree).
    """
    df = (
        spark.read.format("statestore")
        .option("stateVarName", state_name)
        .option("operatorId", 0)
        .load(checkpoint_dir)
    )
    from pyspark.sql import functions as F

    return df.select(
        F.col("key.hexident").alias("hexident"),
        *[F.col(f"value.{f}").alias(f) for f in _STATE_FIELD_NAMES],
    )


class SessionProcessor(StatefulProcessor):
    """Keyed session machine as a row-based StatefulProcessor (lazy
    timers — see module docstring for the round-trip budget)."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._handle = handle
        self._sess = handle.getValueState(TWS_STATE_NAME, TWS_STATE_SCHEMA)

    def handleInitialState(
        self, key, initialState: Row, timerValues: TimerValues
    ) -> None:
        """Seed ``session_v2`` from one migrated legacy session row
        (:func:`legacy_session_initial_state`): the shared
        STATE_SCHEMA tuple rides in by field name, the lazy-timer
        fields are re-based to now + SESSION_TIMEOUT_MS, and the one
        physical timer per session lifetime is armed."""
        if self._sess.exists():
            # Called once per initial-state row, and only on the first
            # batch of a fresh checkpoint: existing state means a second
            # row for this key.  Overwriting would drop the first row's
            # n_messages/first_seen/callsign with no error, the exact
            # silent-loss mode this module guards against (e.g. a union
            # of two legacy checkpoints).
            raise ValueError(
                f"initial state for key {key!r} has more than one row; "
                "sessions are one row per hexident — dedupe (or merge) "
                "the frame before migration"
            )
        legacy = tuple(initialState[f] for f in _STATE_FIELD_NAMES)
        deadline = (
            timerValues.getCurrentProcessingTimeInMs() + SESSION_TIMEOUT_MS
        )
        self._sess.update(legacy + (deadline, True))
        self._handle.registerTimer(deadline)

    def handleInputRows(
        self, key, rows: Iterator[Row], timerValues: TimerValues
    ) -> Iterator[Row]:
        hexident = key[0]
        packed = self._sess.get()  # None when absent — no exists() probe
        if packed is None:
            prior, armed = None, False
        else:
            prior, armed = tuple(packed[:-2]), bool(packed[-1])

        # whole-group sort: see state.sessionize_updates — disorder
        # corrupts the edge machine; the stable sort keeps arrival order
        # on ties.  A NULL timestamp (PRJ-3 parse failure) cannot be
        # ordered, and advance_session would skip it anyway.
        batch = sorted(
            (r for r in rows if r.gen_date_time is not None), key=_BY_TIME
        )
        admitted, new_state, out_rows = advance_session(hexident, prior, batch)

        if admitted:
            # Reset the eviction clock by advancing the deadline IN
            # STATE (rides the update); the physical timer is armed
            # once per session lifetime and re-based lazily on fire.
            deadline = (
                timerValues.getCurrentProcessingTimeInMs() + SESSION_TIMEOUT_MS
            )
            self._sess.update(tuple(new_state) + (deadline, True))
            if not armed:
                self._handle.registerTimer(deadline)

        for r in out_rows:
            yield Row(**r)

    def handleExpiredTimer(
        self, key, timerValues: TimerValues, expiredTimerInfo: ExpiredTimerInfo
    ) -> Iterator[Row]:
        packed = self._sess.get()
        if packed is None:
            # session already evicted (or never existed): a stale timer
            # from before a clear — nothing to do, nothing to clear.
            return
        deadline = packed[-2]
        if timerValues.getCurrentProcessingTimeInMs() >= deadline:
            yield Row(**summary_row(key[0], tuple(packed[:-2])))
            self._sess.clear()
        else:
            # fired against a deadline the session has since advanced
            # past — re-arm at the TRUE deadline (same emission time as
            # the eager delete/re-register pattern, without its
            # per-batch round-trips).
            self._handle.registerTimer(deadline)

    def close(self) -> None:
        pass


def event_stream_tws(
    parsed: DataFrame, initial_state: DataFrame | None = None
) -> DataFrame:
    """``transformWithState`` pipeline stage — drop-in twin of
    ``pipeline.event_stream``.  Start the query with the RocksDB
    provider (see ``ROCKSDB_PROVIDER``).

    ``initial_state``: a (hexident, <STATE_SCHEMA fields>) frame —
    normally :func:`legacy_session_initial_state` — replayed into
    ``session_v2`` on the first batch of a FRESH checkpoint (the
    pre-rename migration path)."""
    return parsed.groupBy("hexident").transformWithState(
        SessionProcessor(),
        outputStructType=EVENT_OUTPUT_SCHEMA,
        outputMode="append",
        timeMode="ProcessingTime",
        initialState=(
            None if initial_state is None else initial_state.groupBy("hexident")
        ),
    )
