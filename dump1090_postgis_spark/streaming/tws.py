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

from collections.abc import Iterator
from operator import attrgetter

from pyspark.sql import DataFrame, Row
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
#: :func:`assert_checkpoint_state_compatible` reads the checkpoint's
#: operator metadata and raises BEFORE the query starts when the
#: recorded state-variable names don't match this handler's.  Bump
#: the suffix AND keep the guard on any future schema change.
TWS_STATE_SCHEMA = STATE_SCHEMA + ", deadline_ms long, timer_armed boolean"
TWS_STATE_NAME = "session_v2"

#: Physical operator that runs :class:`SessionProcessor` (row-based
#: ``transformWithState``).  Spark refuses to restart a checkpoint
#: written by another operator (``STREAMING_STATEFUL_OPERATOR_NOT_MATCH_
#: IN_STATE_METADATA``) — :func:`assert_checkpoint_state_compatible`
#: turns that into a refusal that says how to migrate.
TWS_OPERATOR_NAME = "transformWithStateInPySparkExec"


def _latest_tws_metadata(checkpoint_dir: str) -> str | None:
    """Content of the NEWEST ``state/0/_metadata/v2/<batch>`` file (the
    query's one stateful operator), or None for a fresh/absent
    checkpoint.

    Resolution order (round-9 advisor: the guard must also cover the
    at-scale deployments it exists for): the Hadoop FileSystem API of
    the ACTIVE SparkSession — which handles ``hdfs://`` / ``s3a://`` /
    ``file:`` checkpoints, exactly the set the streaming query itself
    can write to — then plain ``os`` for local paths when no session
    is up.  A directory that EXISTS but cannot be inspected logs a
    loud warning instead of silently disarming the guard."""
    import logging
    import os
    import posixpath

    from pyspark.sql import SparkSession

    meta_dir = posixpath.join(
        checkpoint_dir, "state", "0", "_metadata", "v2"
    )
    spark = SparkSession.getActiveSession()
    if spark is not None:
        try:
            jvm = spark._jvm
            jpath = jvm.org.apache.hadoop.fs.Path(meta_dir)
            fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
            if not fs.exists(jpath):
                return None  # fresh checkpoint
            batches = sorted(
                int(st.getPath().getName())
                for st in fs.listStatus(jpath)
                if st.getPath().getName().isdigit()
            )
            if not batches:
                return None
            stream = fs.open(
                jvm.org.apache.hadoop.fs.Path(
                    posixpath.join(meta_dir, str(batches[-1]))
                )
            )
            try:
                return jvm.org.apache.commons.io.IOUtils.toString(
                    stream, "UTF-8"
                )
            finally:
                stream.close()
        except Exception as exc:  # py4j/FS failure: fall through to os
            logging.getLogger(__name__).warning(
                "could not inspect TWS checkpoint metadata %r via the "
                "Hadoop FileSystem API (%s); falling back to local-path "
                "inspection", meta_dir, exc,
            )
    try:
        batches = sorted(int(f) for f in os.listdir(meta_dir) if f.isdigit())
        if not batches:
            return None
        with open(os.path.join(meta_dir, str(batches[-1]))) as fh:
            return fh.read()
    except FileNotFoundError as exc:
        if "://" not in checkpoint_dir and not checkpoint_dir.startswith(
            "file:"
        ):
            return None  # genuinely fresh LOCAL checkpoint
        # a URI the local fallback cannot reach is NOT evidence of a
        # fresh checkpoint — fall through to the loud disarm warning
        _warn_unguarded(meta_dir, exc)
        return None
    except OSError as exc:
        _warn_unguarded(meta_dir, exc)
        return None


def _warn_unguarded(meta_dir: str, exc: Exception) -> None:
    """The directory exists (or is a URI the local fallback cannot
    reach) but can't be read: the guard is DISARMED for this restart —
    say so loudly rather than silently passing, since an old-name
    checkpoint would silently drop in-flight sessions."""
    import logging

    logging.getLogger(__name__).warning(
        "TWS checkpoint state-name guard could not inspect %r (%s): "
        "proceeding UNGUARDED — a renamed state variable would "
        "silently drop in-flight sessions", meta_dir, exc,
    )


def assert_checkpoint_state_compatible(checkpoint_dir: str) -> None:
    """Raise before restart if ``checkpoint_dir`` was written by a TWS
    processor whose user state variables or physical operator differ
    from this handler's.

    Spark records each stateful operator's name (``operatorInfo`` →
    ``operatorName``) and state-variable names
    (``operatorPropertiesJson`` → ``stateVariables``) in
    ``state/<op>/_metadata/v2/<batch>``.  Two mismatches are refused:

    - a renamed state variable: ACCEPTED by Spark (add/remove is legal
      schema evolution), which here would silently drop every
      in-flight session — this guard turns the rename into the loud
      failure the version suffix was meant to provide;
    - another operator, e.g. ``transformWithStateInPandasExec`` from
      the pandas flavour of this processor: Spark fails the restart
      inside the query with an error that does not say what to do.

    A fresh/absent checkpoint passes; internal ``$procTimers_*``
    variables are ignored; unreadable metadata CONTENT is ignored
    (Spark's own validation owns malformed checkpoints), while an
    UNINSPECTABLE directory logs a loud warning
    (:func:`_latest_tws_metadata` — checked through the Hadoop
    FileSystem API, so remote ``hdfs://``/``s3a://`` checkpoints are
    covered too).

    Migration: either drain the old query with its old handler (stop
    the feed, let every session evict and emit) and start this handler
    on a FRESH checkpoint directory, or carry the in-flight sessions
    across with :func:`legacy_session_initial_state` (naming the
    recorded state variable) + ``event_stream_tws(...,
    initial_state=...)``, which reads the old column family via the
    state-store reader and replays it into the new checkpoint's
    ``session_v2`` on the first batch.
    """
    import json

    content = _latest_tws_metadata(checkpoint_dir)
    if content is None:
        return
    try:
        meta = json.loads(content.splitlines()[1])
        props = json.loads(meta["operatorPropertiesJson"])
        names = {
            v["stateName"]
            for v in props.get("stateVariables", [])
            if not v["stateName"].startswith("$")
        }
        operator = meta.get("operatorInfo", {}).get("operatorName")
    except (ValueError, KeyError, IndexError, AttributeError):
        return  # malformed metadata: defer to Spark's own validation
    if names and names != {TWS_STATE_NAME}:
        raise RuntimeError(
            f"checkpoint {checkpoint_dir!r} was written with TWS state "
            f"variables {sorted(names)}, but this handler uses "
            f"{TWS_STATE_NAME!r}. Spark would restart cleanly and "
            "silently DROP every in-flight session stored under the old "
            "name. Either drain the old query with its original handler "
            "and restart on a fresh checkpoint directory, or migrate the "
            "in-flight sessions with legacy_session_initial_state(...) + "
            "event_stream_tws(..., initial_state=...)."
        )
    if operator and operator != TWS_OPERATOR_NAME:
        raise RuntimeError(
            f"checkpoint {checkpoint_dir!r} was written by the stateful "
            f"operator {operator!r}, but this handler runs "
            f"{TWS_OPERATOR_NAME!r}; Spark refuses that restart. Either "
            "drain the old query with its original handler and restart "
            "on a fresh checkpoint directory, or migrate the in-flight "
            "sessions to a fresh checkpoint with "
            "legacy_session_initial_state(spark, "
            f"{checkpoint_dir!r}, state_name={TWS_STATE_NAME!r}) + "
            "event_stream_tws(..., initial_state=...)."
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
