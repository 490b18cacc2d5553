"""End-to-end streaming pipeline assembly (SURVEY §3.1 Spark shape):

readStream(socket|text) → parse/normalize (select/filter, SRC-3 +
PRJ-1..4 + FLT-3) → groupBy(hexident) → stateful session operator
(FLT-1/2 admission, sessions + edges + debounce,
``state.advance_session``): by default the row-based
``transformWithState`` processor (streaming.tws), with the legacy
``applyInPandasWithState`` handler (streaming.state) as the fallback
when no compatible protobuf runtime is installed (see
:func:`resolve_stream_engine`) → [events stream] → foreachBatch:
runway attribution (JOIN-5, the batch operator's own
``attribution.runway_attributor``, decided once at wire-up) + sinks
(SNK-1 pacing via trigger processingTime='1 second').

The reference's receiver thread + bounded queue + drop-all overflow
(STATE-7) disappear: Spark's source buffering and micro-batch
backpressure replace them; graceful shutdown is ``query.stop()``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import parse
from ..operators.attribution import runway_attributor
from ..streaming.state import (
    EVENT_OUTPUT_SCHEMA,
    STATE_SCHEMA,
    sessionize_updates,
)
from ..streaming.tws import (
    ROCKSDB_PROVIDER,
    assert_checkpoint_state_compatible,
    event_stream_tws,
)

COMMIT_PERIOD = "1 second"  # flights.py:20 DB_COMMIT_PERIOD


def parsed_stream(raw_lines: DataFrame) -> DataFrame:
    """Parse stage, identical for batch and streaming inputs.

    No global altitude filter: the reference applies the filter ONLY to
    the MSG3 admission test (flights.py:97-108 CASE B) — the stateful
    handler enforces it at admission (run.py:28 wires below=10000:
    ``parse.ADMISSION_ALT_ABOVE``/``ADMISSION_ALT_BELOW``).
    """
    msgs = parse.parse_sbs1_lines(raw_lines)
    msgs = parse.dispatch_fields(msgs)
    return msgs.select(
        "hexident", "gen_date_time", "transmission_type", "onground",
        "longitude", "latitude", "altitude", "callsign",
    )


def event_stream(parsed: DataFrame) -> DataFrame:
    """The stateful core on the legacy ``applyInPandasWithState``
    engine: keyed session state emitting landing/takeoff events and
    timeout flight summaries.  No watermark — the reference's eviction
    is processing-time; event-time windows with a watermark (STATE-8)
    are :func:`windowed_event_counts`.
    """
    return parsed.groupBy("hexident").applyInPandasWithState(
        sessionize_updates,
        outputStructType=EVENT_OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf="ProcessingTimeTimeout",
    )


def windowed_event_counts(
    parsed: DataFrame,
    window: str = "1 minute",
    watermark: str = "5 minutes",
    ts: str = "gen_date_time",
) -> DataFrame:
    """STATE-8: event-time tumbling-window message counts per aircraft
    with late-data handling (engine extension — the reference has NO
    watermark; its eviction is processing-time, flights.py:111-117).

    ``withWatermark`` bounds the aggregation state: a window finalizes
    (and, in append mode, emits exactly once) when the watermark passes
    its end, and rows later than the watermark are DROPPED rather than
    reopening emitted windows — the divergence-from-reference behavior
    SURVEY §2.8 says to document, here pinned by tests/test_streaming.
    """
    return (
        parsed.withWatermark(ts, watermark)
        .groupBy(F.window(ts, window).alias("win"), "hexident")
        .agg(F.count(F.lit(1)).alias("n_messages"))
        .select(
            F.col("win.start").alias("window_start"),
            "hexident",
            "n_messages",
        )
    )


def attributing_sink(runways: DataFrame, airport_bbox: DataFrame | None, inner_sink):
    """foreachBatch adapter running STATE-5/JOIN-5 runway attribution
    on each micro-batch of events before handing the attributed frame
    to ``inner_sink(batch_df, epoch_id)`` — the reference enriches its
    live events inside the commit thread (flights.py commit loop →
    models.py:283-286).

    The attribution is the batch operator's own
    (:func:`..operators.attribution.runway_attributor`), built once
    here at wire-up against the static dims: its strategy, and the
    compiled Column or the pinned grid dims, serve every micro-batch.
    The events carry their heading in ``track``."""
    attribute = runway_attributor(runways, airport_bbox, heading="track")

    def sink(batch_df, epoch_id):
        inner_sink(attribute(batch_df), epoch_id)

    return sink


def resolve_stream_engine(engine: str = "auto") -> str:
    """Resolve the stateful-session engine: ``'tws'`` |  ``'legacy'``.

    ``'auto'`` (the default) selects ``'tws'``
    (row-based ``transformWithState`` + RocksDB state store — the
    recommended 100 TB engine: off-heap spillable state, typed
    ValueState, explicit timers, no pandas on the per-key path)
    whenever the Python↔JVM state-server transport is available
    (``pbcompat`` finds a same-major protobuf runtime), else falls
    back to the legacy ``applyInPandasWithState`` handler
    (HDFS-backed state, no protobuf requirement).  Both engines share
    ``state.advance_session`` — one state machine, two APIs, parity
    pinned by tests."""
    if engine not in ("auto", "tws", "legacy"):
        raise ValueError(f"engine must be auto|tws|legacy, got {engine!r}")
    if engine != "auto":
        return engine
    from .pbcompat import prepare_env, tws_available

    return "tws" if (prepare_env() and tws_available()) else "legacy"


def start_pipeline(
    raw_stream: DataFrame,
    sink_fn,
    checkpoint_dir: str,
    trigger: str = COMMIT_PERIOD,
    runways: DataFrame | None = None,
    airport_bbox: DataFrame | None = None,
    engine: str = "auto",
):
    """Wire the stages and start the query.  ``sink_fn(batch_df,
    epoch_id)`` receives each micro-batch of events (foreachBatch =
    SNK-1's transactional batched writes).  ``batch_df`` is not
    cached: a ``sink_fn`` that takes more than one action on it must
    persist it (and unpersist it when done), or each action re-runs
    the whole micro-batch, stateful session operator included — see
    :func:`..streaming.sinks.parquet_event_sink`.  It must also read
    every partition of ``batch_df``: Spark 4.1 fails the query with
    ``STATE_STORE_COMMIT_VALIDATION_FAILED`` after a batch whose sink
    left the session state uncommitted (e.g. a sink that takes no
    action, or only ``limit``/``show``).  Pass ``runways`` (and
    optionally ``airport_bbox``) to run STATE-5 runway attribution
    inside the batch sink — ``sink_fn`` then receives events WITH the
    ``runway`` column, matching the batch ETL's attributed edges.

    ``engine``: ``'auto'`` (default — TWS when available, see
    :func:`resolve_stream_engine`), ``'tws'``, or ``'legacy'``.  Before
    the query starts, one guard reads ``checkpoint_dir`` through Spark's
    ``state-metadata`` source
    (:func:`..streaming.tws.assert_checkpoint_state_compatible`, one
    job) and refuses a checkpoint whose session state the resolved
    engine cannot resume: one written by the other engine or by another
    stateful operator, which Spark would reject inside the query without
    saying how to migrate, or a TWS one with renamed state variables,
    whose in-flight sessions Spark would silently drop.  A fresh
    directory passes; a checkpoint URI Spark cannot reach fails the
    start.  On the TWS path the session's state-store provider is set
    to RocksDB if none is configured (TWS requires it; RocksDB is also
    valid for any concurrently-started legacy query)."""
    resolved = resolve_stream_engine(engine)
    spark = raw_stream.sparkSession
    assert_checkpoint_state_compatible(spark, checkpoint_dir, resolved)
    if resolved == "tws":
        key = "spark.sql.streaming.stateStore.providerClass"
        if spark.conf.get(key, None) in (None, ""):
            spark.conf.set(key, ROCKSDB_PROVIDER)
        events = event_stream_tws(parsed_stream(raw_stream))
    else:
        events = event_stream(parsed_stream(raw_stream))
    if runways is not None:
        sink_fn = attributing_sink(runways, airport_bbox, sink_fn)
    return (
        events.writeStream.outputMode("append")
        .foreachBatch(sink_fn)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=trigger)
        .start()
    )


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    before: str = "5 minutes",
    after: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked stream-stream interval join: each left row matches
    right rows with the same ``on`` key whose event time falls in
    [left_ts - before, left_ts + after].

    The reference has no streaming join — its event enrichment
    (STATE-5) joins a live stream against STATIC dims inside the
    commit thread.  This is the Spark-native generalization for
    stream×stream enrichment (e.g. landing events × position fixes):
    both sides carry a watermark and the join condition carries a
    time-range predicate, which is exactly what Structured Streaming
    needs to BOUND the join state store — rows older than
    watermark + interval are evicted, so state is O(rate × window),
    not O(stream).  Append output mode only (results final once the
    watermark passes).

    Columns surface with ``l_`` / ``r_`` prefixes (except the shared
    key) so downstream selects never hit ambiguous attributes.
    """
    l = left.withWatermark(left_ts, watermark).select(
        F.col(on).alias("_k"),
        *[F.col(c).alias(f"l_{c}") for c in left.columns if c != on],
    )
    r = right.withWatermark(right_ts, watermark).select(
        F.col(on).alias("_rk"),
        *[F.col(c).alias(f"r_{c}") for c in right.columns if c != on],
    )
    lts, rts = F.col(f"l_{left_ts}"), F.col(f"r_{right_ts}")
    cond = (
        (F.col("_k") == F.col("_rk"))
        & (rts >= lts - F.expr(f"INTERVAL {before}"))
        & (rts <= lts + F.expr(f"INTERVAL {after}"))
    )
    return l.join(r, cond, "inner").drop("_rk").withColumnRenamed("_k", on)


def dedup_stream(
    stream: DataFrame,
    keys: list[str],
    ts: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup: keep the first arrival per key, dropping
    re-deliveries that land within the watermark horizon.

    ``dropDuplicatesWithinWatermark`` is the bounded-state form —
    per-key state is evicted once the watermark passes its event time,
    so state is O(rate × horizon), not O(stream) (plain
    ``dropDuplicates`` on a stream retains every key forever).  The
    batch analog is datapipe/dedup.exact_dedup; at-least-once sources
    (replayed sockets, kafka) are the reason this exists.
    """
    return stream.withWatermark(ts, watermark).dropDuplicatesWithinWatermark(keys)
