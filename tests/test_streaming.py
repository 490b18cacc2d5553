"""Streaming pipeline: the applyInPandasWithState session handler must
reproduce the reference state machine (edges, debounce, field
accumulation) on a replayed capture — and agree with the batch path."""

import os
import shutil
import tempfile
import time

import pytest

LINES = [
    # approach: descending positions, then onground flip (landing)
    "MSG,3,1,1,AAA111,1,2024/05/01,10:00:00.000,2024/05/01,10:00:00.000,,500,,,47.1480,-1.6160,,,0,,0,0",
    "MSG,1,1,1,AAA111,1,2024/05/01,10:00:02.000,2024/05/01,10:00:02.000,TST100 ,,,,,,,,0,,0,0",
    "MSG,3,1,1,AAA111,1,2024/05/01,10:00:05.000,2024/05/01,10:00:05.000,,200,,,47.1500,-1.6140,,,0,,0,0",
    "MSG,3,1,1,AAA111,1,2024/05/01,10:00:10.000,2024/05/01,10:00:10.000,,50,,,47.1523,-1.6114,,,0,,0,-1",
    # bounce airborne 1.5s later (takeoff candidate — suppressed by
    # debounce), then back onground 10s later → a second landing
    "MSG,3,1,1,AAA111,1,2024/05/01,10:00:11.500,2024/05/01,10:00:11.500,,50,,,47.1530,-1.6107,,,0,,0,0",
    "MSG,3,1,1,AAA111,1,2024/05/01,10:00:21.500,2024/05/01,10:00:21.500,,80,,,47.1540,-1.6100,,,0,,0,-1",
    # second aircraft, no events
    "MSG,3,1,1,BBB222,1,2024/05/01,10:00:03.000,2024/05/01,10:00:03.000,,9000,,,47.5000,-1.2000,,,0,,0,0",
]


@pytest.fixture(scope="module")
def stream_events(spark):
    drop = tempfile.mkdtemp(prefix="sbs1drop")
    ckpt = tempfile.mkdtemp(prefix="sbs1ckpt")
    with open(os.path.join(drop, "capture.txt"), "w") as f:
        f.write("\n".join(LINES))
    from dump1090_postgis_spark.streaming.pipeline import (
        event_stream,
        parsed_stream,
    )

    raw = spark.readStream.text(drop)
    q = (
        event_stream(parsed_stream(raw))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("stream_ev")
        .option("checkpointLocation", ckpt)
        .start()
    )
    # processAllAvailable() never returns under ProcessingTimeTimeout
    # (state-cleanup batches keep scheduling) — poll until rows appear.
    deadline = time.time() + 120
    while time.time() < deadline:
        if spark.sql("select * from stream_ev").count() >= 2:
            break
        time.sleep(2)
    rows = spark.sql("select * from stream_ev order by event_time").collect()
    q.stop()
    shutil.rmtree(drop, ignore_errors=True)
    yield rows


def test_stream_emits_debounced_edges(stream_events):
    kinds = [(r.hexident, r.kind) for r in stream_events]
    # takeoff candidate at +1.5 s suppressed; both landings survive
    assert kinds == [("AAA111", "landing"), ("AAA111", "landing")]


def test_stream_event_attributes(stream_events):
    landing = stream_events[0]
    assert landing.callsign == "TST100"          # trimmed, accumulated
    assert landing.longitude == pytest.approx(-1.6114)
    assert landing.n_messages == 4
    assert landing.track is not None and 0 <= landing.track < 360


def _run_windowed(spark, drop, ckpt, out):
    """One availableNow run of the watermarked windowed counts over the
    text-file drop dir into a parquet sink (file sinks support
    checkpoint recovery, unlike memory); returns ALL rows emitted so
    far."""
    from dump1090_postgis_spark.streaming.pipeline import (
        parsed_stream,
        windowed_event_counts,
    )

    raw = spark.readStream.text(drop)
    counts = windowed_event_counts(
        parsed_stream(raw), window="1 minute", watermark="5 minutes"
    )
    q = (
        counts.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.read.parquet(out).collect()


def _wm_line(hhmmss, hexident="AAA111"):
    return (
        f"MSG,3,1,1,{hexident},1,2024/05/01,{hhmmss}.000,"
        f"2024/05/01,{hhmmss}.000,,500,,,47.10000,-1.60000,,,0,,0,0"
    )


def test_watermark_drops_late_rows(spark):
    """STATE-8: a row older than the watermark must not reopen an
    already-finalized window; fresh windows keep emitting.  Run 1
    advances the watermark past the 10:00 window and emits it; run 2
    (same checkpoint → persisted watermark) feeds a late 10:00 row —
    dropped — plus a fresh 11:00 row."""
    drop = tempfile.mkdtemp(prefix="wmdrop")
    ckpt = tempfile.mkdtemp(prefix="wmckpt")
    out = tempfile.mkdtemp(prefix="wmout")
    try:
        # run 1: three rows in [10:00,10:01) + one at 10:30 that pushes
        # the watermark to 10:25 → the 10:00 window finalizes
        with open(os.path.join(drop, "a.txt"), "w") as f:
            f.write("\n".join([
                _wm_line("10:00:01"), _wm_line("10:00:02"),
                _wm_line("10:00:59"), _wm_line("10:30:00"),
            ]))
        rows1 = _run_windowed(spark, drop, ckpt, out)
        emitted1 = sorted((str(r.window_start), r.n_messages) for r in rows1)
        assert emitted1 == [("2024-05-01 10:00:00", 3)]  # 10:30 still open

        # run 2: a LATE row back in the finalized 10:00 window plus a
        # fresh 11:00 row advancing the watermark past 10:30
        with open(os.path.join(drop, "b.txt"), "w") as f:
            f.write("\n".join([_wm_line("10:00:30"), _wm_line("11:00:00")]))
        rows2 = _run_windowed(spark, drop, ckpt, out)
        emitted2 = sorted((str(r.window_start), r.n_messages) for r in rows2)
        # late 10:00 row dropped: window count unchanged, no re-emit,
        # no new 10:00 row; the 10:30 window finalizes with only its
        # original row
        assert emitted2 == [
            ("2024-05-01 10:00:00", 3),
            ("2024-05-01 10:30:00", 1),
        ]
    finally:
        shutil.rmtree(drop, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)


def test_stream_matches_batch_path(spark, stream_events):
    """The deterministic batch analog (sessionize→edges→debounce) must
    find the same events on the same input."""
    import pyspark.sql.functions as F

    from dump1090_postgis_spark.operators import parse
    from dump1090_postgis_spark.operators.events import (
        debounce_events,
        detect_onground_edges,
    )
    from dump1090_postgis_spark.operators.sessionize import sessionize

    df = spark.createDataFrame([(l,) for l in LINES], "value string")
    msgs = parse.dispatch_fields(parse.parse_sbs1_lines(df))
    # events fire only from valid-position MSG2/MSG3 rows
    # (models.py:196-215) — same rule the streaming handler applies
    sess = parse.position_validity(sessionize(msgs))
    edges = debounce_events(detect_onground_edges(sess))
    batch = [
        (r.hexident, r.event_type, r.gen_date_time)
        for r in edges.orderBy("gen_date_time").collect()
    ]
    stream = [(r.hexident, r.kind, r.event_time) for r in stream_events]
    assert batch == stream


def test_streaming_attribution_matches_batch_path(spark, stream_events, tmp_path):
    """STATE-5 inside foreachBatch: the attributing sink must assign
    every streamed event the same runway the batch attribution path
    assigns to the identical event rows — per-batch enrichment changes
    WHEN attribution runs, never WHAT it returns."""
    import pyspark.sql.functions as F

    from dump1090_postgis_spark.operators.attribution import attribute_runway
    from dump1090_postgis_spark.sources.dims import nte_airport, nte_runways
    from dump1090_postgis_spark.streaming.pipeline import start_pipeline

    drop = str(tmp_path / "drop")
    os.makedirs(drop)
    with open(os.path.join(drop, "capture.txt"), "w") as f:
        f.write("\n".join(LINES))

    collected = []

    def inner(batch_df, epoch_id):
        collected.extend(batch_df.collect())

    q = start_pipeline(
        spark.readStream.text(drop),
        inner,
        str(tmp_path / "ckpt"),
        runways=nte_runways(spark),
        airport_bbox=nte_airport(spark),
    )
    deadline = time.time() + 120
    while time.time() < deadline and len(collected) < len(stream_events):
        time.sleep(2)
    q.stop()

    assert len(collected) == len(stream_events)
    assert all("runway" in r.asDict() for r in collected)
    streamed = {
        (r.hexident, r.kind, r.event_time): r.runway for r in collected
    }

    # batch path: attribute the SAME (un-attributed) streamed events
    ev_df = spark.createDataFrame(stream_events)
    batch = attribute_runway(
        ev_df, nte_runways(spark), nte_airport(spark), heading="track"
    )
    expected = {
        (r.hexident, r.kind, r.event_time): r.runway for r in batch.collect()
    }
    assert streamed == expected
    # and the events themselves are genuinely attributed (not all UNK)
    assert any(v != "UNK" for v in streamed.values()), streamed


def test_streaming_grid_attribution_matches_batch_path(
    spark, stream_events, tmp_path
):
    """The GRID-strategy twin of the test above (round-13): a
    300-runway dim pushes attributing_sink's wire-up gate past the
    256-branch compile budget, so the sink runs the grid-cell
    broadcast join per micro-batch against cell dims computed ONCE and
    localCheckpointed at wire-up — and every streamed event must still
    get exactly the runway the batch grid path assigns."""
    import pyspark.sql.functions as F

    from dump1090_postgis_spark.operators.attribution import attribute_runway
    from dump1090_postgis_spark.schemas import RUNWAY_SCHEMA
    from dump1090_postgis_spark.sources.dims import literal_dim
    from dump1090_postgis_spark.streaming.pipeline import start_pipeline

    # 300 thin lon strips tiling [-1.75, -1.39] × [47.0, 47.25]: the
    # capture's event coordinates fall inside some strip, directions
    # alternate so the heading tier stays load-bearing
    w = 0.36 / 300
    rows = [
        (
            i + 1, "LFRS", f"G{i:03d}", 30 if i % 2 == 0 else 210, 2900.0,
            [
                {"lon": -1.75 + i * w, "lat": 47.0},
                {"lon": -1.75 + (i + 1) * w, "lat": 47.0},
                {"lon": -1.75 + (i + 1) * w, "lat": 47.25},
                {"lon": -1.75 + i * w, "lat": 47.25},
            ],
        )
        for i in range(300)
    ]
    grid_dim = literal_dim(spark, rows, RUNWAY_SCHEMA)

    drop = str(tmp_path / "drop")
    os.makedirs(drop)
    with open(os.path.join(drop, "capture.txt"), "w") as f:
        f.write("\n".join(LINES))

    collected = []

    def inner(batch_df, epoch_id):
        collected.extend(batch_df.collect())

    q = start_pipeline(
        spark.readStream.text(drop),
        inner,
        str(tmp_path / "ckpt"),
        runways=grid_dim,
        airport_bbox=None,
    )
    deadline = time.time() + 120
    while time.time() < deadline and len(collected) < len(stream_events):
        time.sleep(2)
    q.stop()

    assert len(collected) == len(stream_events)
    streamed = {
        (r.hexident, r.kind, r.event_time): r.runway for r in collected
    }
    ev_df = spark.createDataFrame(stream_events)
    batch = attribute_runway(ev_df, grid_dim, None, heading="track")
    expected = {
        (r.hexident, r.kind, r.event_time): r.runway for r in batch.collect()
    }
    assert streamed == expected
    assert any(v != "UNK" for v in streamed.values()), streamed


def _broadcast_sides(plan) -> list[list[str]]:
    """Node names of every broadcast exchange's subtree in ``plan``."""
    from tests.test_plans import plan_kids

    def names(node):
        return [node.nodeName()] + [n for c in plan_kids(node) for n in names(c)]

    def walk(node):
        if node.nodeName() == "BroadcastExchange":
            return [names(node)[1:]]
        return [side for c in plan_kids(node) for side in walk(c)]

    return walk(plan)


def test_streaming_grid_attribution_builds_dims_once(spark, stream_events, tmp_path):
    """Build-once rule of the grid stream: the per-cell dims (a window,
    an explode and a collect_list over the runway table) are built and
    pinned at wire-up, so no micro-batch plan rebuilds them — the
    broadcast side of every batch is a scan of the pinned rows (round
    13 measured the per-batch rebuild as part of a 0.161 keep-up)."""
    from dump1090_postgis_spark.schemas import RUNWAY_SCHEMA
    from dump1090_postgis_spark.sources.dims import literal_dim
    from dump1090_postgis_spark.streaming.pipeline import start_pipeline

    # the 300-strip dim of test_streaming_grid_attribution_matches_batch_path
    w = 0.36 / 300
    rows = [
        (
            i + 1, "LFRS", f"G{i:03d}", 30 if i % 2 == 0 else 210, 2900.0,
            [
                {"lon": -1.75 + i * w, "lat": 47.0},
                {"lon": -1.75 + (i + 1) * w, "lat": 47.0},
                {"lon": -1.75 + (i + 1) * w, "lat": 47.25},
                {"lon": -1.75 + i * w, "lat": 47.25},
            ],
        )
        for i in range(300)
    ]
    grid_dim = literal_dim(spark, rows, RUNWAY_SCHEMA)

    drop = str(tmp_path / "drop")
    os.makedirs(drop)
    with open(os.path.join(drop, "capture.txt"), "w") as f:
        f.write("\n".join(LINES))

    collected, sides = [], []

    def inner(batch_df, epoch_id):
        collected.extend(batch_df.collect())
        sides.extend(_broadcast_sides(batch_df._jdf.queryExecution().executedPlan()))

    q = start_pipeline(
        spark.readStream.text(drop), inner, str(tmp_path / "ckpt"),
        runways=grid_dim, airport_bbox=None,
    )
    deadline = time.time() + 120
    while time.time() < deadline and len(collected) < len(stream_events):
        time.sleep(2)
    q.stop()

    assert len(collected) == len(stream_events)
    assert sides, "no micro-batch broadcast the runway cells"
    for side in sides:
        assert not {"Window", "Generate"} & set(side), side
        assert "Scan ExistingRDD" in side, side


def test_streaming_curation_foreachbatch_matches_batch(spark, tmp_path):
    """The datapipe curation ops are plain DataFrame transforms, so
    they run unchanged inside a foreachBatch micro-batch: streaming
    the documents table through curate_documents yields exactly the
    batch result (per-batch semantics — exact-dup canonicalization is
    within-batch by design for the streaming path)."""
    from dump1090_postgis_spark.datapipe.curate import curate_documents
    from dump1090_postgis_spark.schemas import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    src = str(tmp_path / "docs_in")
    docs.coalesce(1).write.parquet(src)

    collected = []

    def handle(batch_df, _bid):
        collected.extend(curate_documents(batch_df).collect())

    q = (
        spark.readStream.schema(docs.schema)
        .parquet(src)
        .writeStream.foreachBatch(handle)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    expected = {r.doc_id: r for r in curate_documents(docs).collect()}
    got = {r.doc_id: r for r in collected}
    assert got == expected and len(got) > 0


def test_streaming_cluster_map_maintenance(spark, tmp_path):
    """Continuous corpus maintenance (round-13): each micro-batch
    merges into the PERSISTED cluster map via update_cluster_map and
    appends its banded signatures to the store — the full production
    loop (docs ledger + map + signature store advanced per batch,
    history never re-hashed).  After the stream drains, the map must
    equal a full rebuild over every streamed doc, whatever order the
    batches arrived in (rebuild equivalence is order-free)."""
    from dump1090_postgis_spark.datapipe import dedup as dd
    from dump1090_postgis_spark.datapipe.cluster import (
        duplicate_clusters,
        update_cluster_map,
    )

    X = "the quick brown fox jumps over the lazy dog tonight"
    Xv = "the quick brown fox jumps over the lazy cat tonight"
    E = "entirely new material discussing broadcast joins deeply"
    b0 = spark.createDataFrame(
        [(0, X), (1, X), (5, "unrelated seed content about parquet row groups")],
        "doc_id long, text string",
    )
    b1 = spark.createDataFrame(
        [(10, E), (11, Xv)], "doc_id long, text string"
    )
    b2 = spark.createDataFrame(
        [(20, E), (21, X)], "doc_id long, text string"
    )
    kw = dict(hash_family="md5", bands=16, max_bucket_size=None)

    def build(docs):
        cands = dd.lsh_candidate_pairs(docs, **kw)
        pairs = dd.jaccard_pairs(docs, cands, threshold=0.5)
        return duplicate_clusters(docs, pairs)

    src = str(tmp_path / "stream_in")
    docs_path = str(tmp_path / "docs_ledger")
    map_path = str(tmp_path / "cluster_map")
    banded_path = str(tmp_path / "sigstore")
    for b in (b0, b1, b2):
        b.coalesce(1).write.mode("append").parquet(src)

    import os as _os

    def handle(batch_df, _bid):
        batch_df = batch_df.localCheckpoint(eager=True)
        if not _os.path.exists(map_path):
            new_map = build(batch_df)
        else:
            docs_old = spark.read.parquet(docs_path)
            old_map = spark.read.parquet(map_path)
            prior = spark.read.parquet(banded_path)
            new_map = update_cluster_map(
                docs_old, old_map, batch_df, threshold=0.5,
                old_banded=prior, **kw,
            )
        # pin before overwriting the path the plan read from
        new_map.localCheckpoint(eager=True).write.mode(
            "overwrite"
        ).parquet(map_path)
        batch_df.write.mode("append").parquet(docs_path)
        dd.minhash_banded(batch_df, hash_family="md5", bands=16).write.mode(
            "append"
        ).parquet(banded_path)

    q = (
        spark.readStream.schema(b0.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(handle)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    final = sorted(
        tuple(r) for r in spark.read.parquet(map_path).collect()
    )
    all_docs = b0.unionByName(b1).unionByName(b2)
    expected = sorted(tuple(r) for r in build(all_docs).collect())
    assert final == expected
    by_id = {r[0]: r for r in final}
    # cross-batch merges landed: {0,1,11,21} one X-family cluster,
    # {10,20} the E cluster born mid-stream
    assert by_id[0][2] == 4 and by_id[11][1] == by_id[21][1] == 0
    assert by_id[10][1] == by_id[20][1] and by_id[10][2] == 2


def test_streaming_incremental_dedup_with_signature_store(spark, tmp_path):
    """Recurring-ingest dedup as a stream: each micro-batch is checked
    against the accumulated signature store (band/key rows persisted
    per batch), so batch N's duplicates of batches 0..N-1 are caught
    without re-scanning any raw history text."""
    from dump1090_postgis_spark.datapipe import dedup as dd

    base = "the quick brown fox jumps over the lazy dog again and again today"
    b0 = spark.createDataFrame(
        [(1, base), (2, "first batch unique content nothing shared here at all")],
        "doc_id long, text string",
    )
    b1 = spark.createDataFrame(
        [(101, base), (102, "second batch brand new words never seen before")],
        "doc_id long, text string",
    )
    src = str(tmp_path / "in")
    store = str(tmp_path / "sigstore")
    b0.coalesce(1).write.mode("append").parquet(src)
    b1.coalesce(1).write.mode("append").parquet(src)

    import os

    hits = []

    def handle(batch_df, _bid):
        batch_df = batch_df.localCheckpoint(eager=True)
        if os.path.exists(store):
            prior = spark.read.parquet(store)
            hits.extend(
                dd.incremental_lsh_pairs(
                    corpus=None, new_docs=batch_df, corpus_banded=prior
                ).collect()
            )
        dd.minhash_banded(batch_df).write.mode("append").parquet(store)

    q = (
        spark.readStream.schema(b0.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(handle)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # file processing order is an implementation detail — assert the
    # cross-batch duplicate is found whichever batch streamed first
    got = {frozenset((r.new_id, r.corpus_id)) for r in hits}
    assert frozenset((1, 101)) in got
    b0_ids, b1_ids = {1, 2}, {101, 102}
    for pair in got:  # every hit crosses batches (store-vs-new only)
        assert pair & b0_ids and pair & b1_ids
    # store now holds both batches' signatures
    assert spark.read.parquet(store).select("_id").distinct().count() == 4


def test_stream_stream_interval_join(spark):
    """Stream×stream enrichment: a watermarked interval join matches
    right-side fixes within ±2 minutes of each left event, same key
    only, and drops everything outside the interval."""
    import tempfile

    from dump1090_postgis_spark.streaming.pipeline import interval_join_streams

    ldrop = tempfile.mkdtemp(prefix="ssjl")
    rdrop = tempfile.mkdtemp(prefix="ssjr")
    ckpt = tempfile.mkdtemp(prefix="ssjc")
    try:
        with open(os.path.join(ldrop, "a.csv"), "w") as f:
            f.write("AAA111,2024-05-01 10:00:00,landing\n")
            f.write("BBB222,2024-05-01 12:00:00,takeoff\n")
        with open(os.path.join(rdrop, "a.csv"), "w") as f:
            f.write("AAA111,2024-05-01 09:58:30,480\n")   # in window
            f.write("AAA111,2024-05-01 10:01:00,120\n")   # in window
            f.write("AAA111,2024-05-01 10:30:00,90\n")    # outside ±2m
            f.write("BBB222,2024-05-01 10:00:30,300\n")   # wrong time
            f.write("CCC333,2024-05-01 10:00:30,300\n")   # wrong key
        left = (
            spark.readStream.schema("hexident string, ts timestamp, kind string")
            .csv(ldrop)
        )
        right = (
            spark.readStream.schema("hexident string, ts timestamp, alt int")
            .csv(rdrop)
        )
        joined = interval_join_streams(
            left, right, on="hexident", before="2 minutes", after="2 minutes"
        )
        q = (
            joined.writeStream.outputMode("append")
            .format("memory")
            .queryName("ssj_out")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r.hexident, str(r.r_ts), r.r_alt)
            for r in spark.sql("select * from ssj_out").collect()
        }
        assert got == {
            ("AAA111", "2024-05-01 09:58:30", 480),
            ("AAA111", "2024-05-01 10:01:00", 120),
        }
    finally:
        shutil.rmtree(ldrop, ignore_errors=True)
        shutil.rmtree(rdrop, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_dedup_stream_drops_redelivery_within_watermark(spark):
    """Streaming exact dedup: a re-delivered key inside the watermark
    horizon is dropped; distinct keys all pass."""
    import tempfile

    from dump1090_postgis_spark.streaming.pipeline import dedup_stream

    drop = tempfile.mkdtemp(prefix="sdedup")
    ckpt = tempfile.mkdtemp(prefix="sdedupc")
    try:
        with open(os.path.join(drop, "a.csv"), "w") as f:
            f.write("k1,2024-05-01 10:00:00,first\n")
            f.write("k1,2024-05-01 10:00:30,redelivery\n")
            f.write("k2,2024-05-01 10:01:00,other\n")
        stream = (
            spark.readStream.schema("k string, ts timestamp, note string")
            .csv(drop)
        )
        q = (
            dedup_stream(stream, ["k"], ts="ts", watermark="10 minutes")
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("sdedup_out")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = spark.sql("select * from sdedup_out").collect()
        assert sorted((r.k, r.note) for r in rows) == [
            ("k1", "first"), ("k2", "other"),
        ]
    finally:
        shutil.rmtree(drop, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_session_window_works_under_readstream(spark):
    """The declarative session_window aggregation the batch query
    session_window_native uses runs verbatim as a watermarked
    streaming aggregation: gap-merged sessions emit once final."""
    import tempfile

    from pyspark.sql import functions as F

    drop = tempfile.mkdtemp(prefix="swin")
    ckpt = tempfile.mkdtemp(prefix="swck")
    try:
        with open(os.path.join(drop, "a.csv"), "w") as f:
            # user 1: two events 10 min apart (one session), then a
            # 40-min gap (new session); user 2: one event
            f.write("1,2024-05-01 10:00:00\n")
            f.write("1,2024-05-01 10:10:00\n")
            f.write("1,2024-05-01 10:50:00\n")
            f.write("2,2024-05-01 10:05:00\n")
            # late watermark flusher
            f.write("9,2024-05-01 13:00:00\n")
        stream = (
            spark.readStream.schema("user_id long, ts timestamp").csv(drop)
        )
        agg = (
            stream.withWatermark("ts", "1 hour")
            .groupBy("user_id", F.session_window("ts", "30 minutes"))
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                "user_id",
                F.col("session_window.start").cast("string").alias("s"),
                "n_events",
            )
        )
        q = (
            agg.writeStream.outputMode("append")
            .format("memory")
            .queryName("swin_out")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r.user_id, r.s, r.n_events)
            for r in spark.sql("select * from swin_out").collect()
        }
        assert (1, "2024-05-01 10:00:00", 2) in got
        assert (1, "2024-05-01 10:50:00", 1) in got
        assert (2, "2024-05-01 10:05:00", 1) in got
    finally:
        shutil.rmtree(drop, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def _has_protobuf() -> bool:
    """TWS transport availability after pbcompat discovery (finds an
    on-disk same-major protobuf runtime when none is pip-installed;
    see streaming/pbcompat.py)."""
    from dump1090_postgis_spark.streaming.pbcompat import (
        prepare_env,
        tws_available,
    )

    return prepare_env() and tws_available()


def _stream_events_into_memory(spark, stage, name: str) -> list:
    """Run ``stage(parsed_stream)`` over the LINES capture into a memory
    sink, on the RocksDB state store (required by TWS, valid for the
    legacy handler), until the two debounced landings arrive; return
    the event rows (summaries excluded) ordered by event time."""
    from dump1090_postgis_spark.streaming.pipeline import parsed_stream
    from dump1090_postgis_spark.streaming.tws import ROCKSDB_PROVIDER

    drop = tempfile.mkdtemp(prefix="sbs1memdrop")
    ckpt = tempfile.mkdtemp(prefix="sbs1memckpt")
    with open(os.path.join(drop, "capture.txt"), "w") as f:
        f.write("\n".join(LINES))
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, ROCKSDB_PROVIDER)
    try:
        q = (
            stage(parsed_stream(spark.readStream.text(drop)))
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .start()
        )
        deadline = time.time() + 120
        while time.time() < deadline:
            if spark.sql(f"select * from {name}").count() >= 2:
                break
            time.sleep(2)
        q.stop()
        q.awaitTermination(60)
        return spark.sql(
            f"select * from {name} where kind != 'flight_summary'"
            " order by event_time"
        ).collect()
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
        shutil.rmtree(drop, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithState needs a google.protobuf runtime "
    "and pbcompat found none on disk — the shared advance_session core "
    "is pinned by test_advance_session_core_* and the processor "
    "lifecycle by test_tws_processor_full_lifecycle_matches_legacy",
)
def test_transform_with_state_matches_legacy_handler(spark):
    """The transformWithState twin (streaming/tws.py) must emit
    the same debounced events as the applyInPandasWithState path on
    the replayed capture — one shared advance_session core."""
    from dump1090_postgis_spark.streaming.tws import event_stream_tws

    rows = _stream_events_into_memory(spark, event_stream_tws, "tws_ev")

    # identical expectations to test_stream_emits_debounced_edges:
    # two landings (the 1.5 s bounce takeoff suppressed), AAA111 only
    assert [r.kind for r in rows] == ["landing", "landing"]
    assert {r.hexident for r in rows} == {"AAA111"}
    assert rows[0].event_time.second == 10 and rows[1].event_time.second == 21
    assert rows[0].callsign == "TST100"


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithState needs a google.protobuf runtime and "
    "pbcompat found none on disk",
)
def test_tws_timestamps_match_legacy_in_non_utc_session(spark):
    """The row-based TWS receives timestamps as tz-aware datetimes,
    while the legacy pandas handler sees naive session-local values.
    Under a non-UTC session time zone both must still emit the same
    event_time/first_seen/last_seen instants — the wall clock of the
    capture, read in that zone."""
    import datetime as dt

    from dump1090_postgis_spark.streaming.pipeline import event_stream
    from dump1090_postgis_spark.streaming.tws import event_stream_tws

    spark.conf.set("spark.sql.session.timeZone", "Europe/Paris")
    try:
        tws = _stream_events_into_memory(spark, event_stream_tws, "tz_tws")
        legacy = _stream_events_into_memory(spark, event_stream, "tz_legacy")
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")

    def times(rows):
        return [
            (r.hexident, r.kind, r.event_time, r.first_seen, r.last_seen)
            for r in rows
        ]

    assert times(tws) == times(legacy)
    # collect() renders instants in the driver's local zone; compare
    # epochs: the capture's 10:00 wall clock in Paris is 08:00 UTC
    def utc(*hms):
        return dt.datetime(2024, 5, 1, *hms, tzinfo=dt.timezone.utc).timestamp()

    assert [r.event_time.timestamp() for r in tws] == [
        utc(8, 0, 10),
        utc(8, 0, 21, 500_000),
    ]
    assert tws[0].first_seen.timestamp() == utc(8, 0, 0)


def _msg(ts_us, tt=3, onground=False, lon=-1.6, lat=47.1, alt=100.0, callsign=None):
    from collections import namedtuple

    import pandas as pd

    R = namedtuple(
        "R",
        "gen_date_time transmission_type onground longitude latitude altitude callsign",
    )
    return R(pd.Timestamp(ts_us, unit="us"), tt, onground, lon, lat, alt, callsign)


def test_advance_session_core_edges_and_debounce():
    """The shared state-machine core (used by BOTH streaming APIs):
    admission, edge detection, debounce clock advancing on suppressed
    candidates."""
    from dump1090_postgis_spark.streaming.state import advance_session

    s = 1_000_000
    rows = [
        _msg(0 * s, onground=False),
        _msg(10 * s, onground=True),           # landing
        _msg(11 * s + 500_000, onground=False),  # bounce: suppressed
        _msg(21 * s + 500_000, onground=True),   # second landing
    ]
    admitted, state, events = advance_session("AAA", None, iter(rows))
    assert admitted
    assert [e["kind"] for e in events] == ["landing", "landing"]
    first_seen, last_seen, n, onground, last_event, *_ = state
    assert (first_seen, n, onground) == (0, 4, True)
    assert last_event == 21 * s + 500_000


def test_advance_session_core_resumes_from_state():
    """Feeding rows in two calls (two micro-batches) must match one
    call — the state tuple carries everything."""
    from dump1090_postgis_spark.streaming.state import advance_session

    s = 1_000_000
    rows = [
        _msg(0 * s, onground=False),
        _msg(10 * s, onground=True),
        _msg(20 * s, onground=False),
    ]
    _, st_all, ev_all = advance_session("AAA", None, iter(rows))
    _, st1, ev1 = advance_session("AAA", None, iter(rows[:1]))
    _, st2, ev2 = advance_session("AAA", st1, iter(rows[1:]))
    assert st2 == st_all
    assert [e["kind"] for e in ev1 + ev2] == [e["kind"] for e in ev_all]


def test_advance_session_admission_band():
    """FLT-1 at live admission: an MSG3 admits a flight only with an
    altitude strictly inside parse's band — the band the batch ETL
    admits with; a NULL altitude is rejected (strict filter)."""
    from dump1090_postgis_spark.operators.parse import (
        ADMISSION_ALT_ABOVE,
        ADMISSION_ALT_BELOW,
    )
    from dump1090_postgis_spark.streaming.state import advance_session

    def admits(alt):
        return advance_session("AAA", None, iter([_msg(0, alt=alt)]))[0]

    assert admits(ADMISSION_ALT_BELOW - 1)
    assert admits(ADMISSION_ALT_ABOVE + 1)
    assert not admits(ADMISSION_ALT_BELOW)
    assert not admits(ADMISSION_ALT_ABOVE)
    assert not admits(None)
    # an MSG2 admits without an altitude
    assert advance_session("AAA", None, iter([_msg(0, tt=2, alt=None)]))[0]


def test_tws_processor_full_lifecycle_matches_legacy(spark):
    """Execute streaming/tws.py's SessionProcessor end-to-end — init →
    one handleInputRows call per message → handleExpiredTimer eviction
    → close — against an in-memory StatefulProcessorHandle twin (the
    real handle is a protobuf transport client; this twin keeps the
    lifecycle pinned even on hosts where pbcompat finds no protobuf
    runtime and test_transform_with_state_matches_legacy_handler
    skips).  Uses the REAL pyspark TimerValues/ExpiredTimerInfo values
    and feeds/reads ``Row``s, as the row-based transformWithState
    runtime does.  Output must equal the applyInPandasWithState path
    on the same capture, and eviction must emit exactly one flight
    summary per live session.

    Lazy-timer contract (round 7): ONE physical timer per session
    lifetime, anchored at the first admitted batch; the advancing
    eviction deadline lives in state (packed[-2]); an early fire
    re-arms to the stored deadline and only a fire at/after it emits
    the summary."""
    from pyspark.sql.streaming.stateful_processor import (
        ExpiredTimerInfo,
        TimerValues,
    )

    from dump1090_postgis_spark.operators import parse
    from dump1090_postgis_spark.streaming.state import SESSION_TIMEOUT_MS
    from dump1090_postgis_spark.streaming.tws import (
        TWS_STATE_NAME,
        SessionProcessor,
    )

    class FakeValueState:
        def __init__(self):
            self._v = None

        def exists(self):
            return self._v is not None

        def get(self):
            return self._v

        def update(self, v):
            self._v = tuple(v)

        def clear(self):
            self._v = None

    class FakeHandle:
        def __init__(self):
            self.states = {}
            self.timers = []

        def getValueState(self, name, schema):
            return self.states.setdefault(name, FakeValueState())

        def listTimers(self):
            return list(self.timers)

        def deleteTimer(self, t):
            self.timers.remove(t)

        def registerTimer(self, ts):
            self.timers.append(ts)

    df = spark.createDataFrame([(l,) for l in LINES], "value string")
    parsed = (
        parse.dispatch_fields(parse.parse_sbs1_lines(df))
        .select(
            "hexident", "gen_date_time", "transmission_type", "onground",
            "longitude", "latitude", "altitude", "callsign",
        )
        .orderBy("gen_date_time")
        .collect()
    )

    proc = SessionProcessor()
    handle = FakeHandle()
    proc.init(handle)

    emitted = []
    now_ms = 1_000_000
    first_deadline = None
    for row in parsed:
        key = (row.hexident,)
        for out in proc.handleInputRows(key, iter([row]), TimerValues(now_ms)):
            emitted.append(out)
        sess = handle.states[TWS_STATE_NAME]
        if sess.exists():
            if first_deadline is None:
                first_deadline = now_ms + SESSION_TIMEOUT_MS
            # lazy timers: exactly ONE physical timer, anchored at the
            # session's first admitted batch — NOT re-based per batch —
            # while the stored deadline (state[-2]) tracks this batch.
            assert handle.timers == [first_deadline]
            assert sess.get()[-2] == now_ms + SESSION_TIMEOUT_MS
        now_ms += 1_000

    got = {(r.hexident, r.kind, str(r.event_time)) for r in emitted}

    # parity with the applyInPandasWithState path on the same lines:
    # two landings (second debounced from the bounce), nothing else
    from dump1090_postgis_spark.operators.events import (
        debounce_events,
        detect_onground_edges,
    )
    from dump1090_postgis_spark.operators.sessionize import sessionize

    msgs = parse.dispatch_fields(parse.parse_sbs1_lines(df))
    batch_edges = debounce_events(
        detect_onground_edges(parse.position_validity(sessionize(msgs)))
    )
    expected = {
        (r.hexident, r.event_type, str(r.gen_date_time))
        for r in batch_edges.collect()
    }
    assert got == expected and len(got) > 0

    # eviction: drive the timer loop as the runtime would — an early
    # fire (anchor timer < advanced deadline) must RE-ARM without
    # emitting; the fire at the stored deadline emits exactly one
    # summary and clears state.
    live = [k for k, s in [(TWS_STATE_NAME, handle.states[TWS_STATE_NAME])] if s.exists()]
    summaries = []
    fires = 0
    while handle.timers and not summaries and fires < 5:
        t = min(handle.timers)
        handle.timers.remove(t)
        for out in proc.handleExpiredTimer(
            ("AAA111",), TimerValues(t), ExpiredTimerInfo(t)
        ):
            summaries.append(out)
        fires += 1
    if live:
        assert fires == 2  # one early fire (re-arm), one true eviction
        assert len(summaries) == 1
        assert summaries[0].kind == "flight_summary"
        assert not handle.states[TWS_STATE_NAME].exists()
        # a stale timer after the clear is a no-op (no crash, no rows)
        assert list(
            proc.handleExpiredTimer(
                ("AAA111",), TimerValues(now_ms), ExpiredTimerInfo(now_ms)
            )
        ) == []

    proc.close()


def test_attributed_pipeline_resumes_from_checkpoint_without_replay(spark, tmp_path):
    """Restart the attributed foreachBatch pipeline on the SAME
    checkpoint after adding a new capture file: the new aircraft's
    landing is attributed and emitted exactly once, and the first
    run's events are NOT re-delivered to the sink."""
    from dump1090_postgis_spark.sources.dims import nte_airport, nte_runways
    from dump1090_postgis_spark.streaming.pipeline import start_pipeline

    drop = str(tmp_path / "drop")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(drop)
    with open(os.path.join(drop, "a.txt"), "w") as f:
        f.write("\n".join(LINES))

    def run_until(n_rows, files_done):
        collected = []

        def inner(batch_df, epoch_id):
            collected.extend(batch_df.collect())

        q = start_pipeline(
            spark.readStream.text(drop), inner, ckpt,
            runways=nte_runways(spark), airport_bbox=nte_airport(spark),
        )
        deadline = time.time() + 120
        while time.time() < deadline and len(collected) < n_rows:
            time.sleep(2)
        q.stop()
        return collected

    first = run_until(2, 1)
    assert {(r.hexident, r.kind) for r in first} == {("AAA111", "landing")}
    assert len(first) == 2  # both debounced landings

    # second capture: a NEW aircraft landing on runway 03
    with open(os.path.join(drop, "b.txt"), "w") as f:
        f.write("\n".join([
            "MSG,3,1,1,CCC333,1,2024/05/01,11:00:00.000,2024/05/01,11:00:00.000,,300,,,47.1480,-1.6160,,,0,,0,0",
            "MSG,3,1,1,CCC333,1,2024/05/01,11:00:05.000,2024/05/01,11:00:05.000,,100,,,47.1500,-1.6140,,,0,,0,0",
            "MSG,3,1,1,CCC333,1,2024/05/01,11:00:10.000,2024/05/01,11:00:10.000,,50,,,47.1523,-1.6114,,,0,,0,-1",
        ]))
    second = run_until(1, 2)
    # exactly the new landing, attributed; no replay of run 1's events
    assert [(r.hexident, r.kind) for r in second] == [("CCC333", "landing")]
    assert second[0].runway in ("03", "21")


def test_pbcompat_shim_dir_exposes_only_protobuf():
    """pbcompat must never leak the donor's unrelated top-level modules
    onto sys.path: the generated shim dir contains exactly a google/
    package (whose only member is the protobuf symlink) plus the
    worker sitecustomize — nothing else importable."""
    import os

    from dump1090_postgis_spark.streaming import pbcompat

    if not pbcompat.prepare_env():
        pytest.skip("no on-disk protobuf runtime on this host")
    if "SPARK_GRAFT_PB_DIR" not in os.environ:
        # protobuf was importable without the shim (pip-installed
        # host): nothing to inspect.
        pytest.skip("protobuf natively importable; shim not built")
    repo_root = os.path.dirname(
        os.path.dirname(os.path.abspath(pbcompat.__file__))
    )
    shim = os.path.join(os.path.dirname(repo_root), ".artifacts", "pbshim")
    assert sorted(os.listdir(shim)) == ["google", "sitecustomize.py"]
    gdir = os.path.join(shim, "google")
    assert sorted(os.listdir(gdir)) == ["__init__.py", "protobuf"] or sorted(
        os.listdir(gdir)
    ) == ["__init__.py", "__pycache__", "protobuf"]
    assert os.path.islink(os.path.join(gdir, "protobuf"))
    # the version-gap shim is active and same-major tolerant
    from google.protobuf import runtime_version as rv

    assert getattr(rv.ValidateProtobufRuntimeVersion, "_pbcompat_shim", False)
    # a minor gap within the major must pass, a major gap must raise
    rv.ValidateProtobufRuntimeVersion(
        rv.Domain.PUBLIC, rv.MAJOR, rv.MINOR + 1, 0, "", "gap.proto"
    )
    with pytest.raises(Exception):
        rv.ValidateProtobufRuntimeVersion(
            rv.Domain.PUBLIC, rv.MAJOR + 1, 0, 0, "", "major.proto"
        )


def test_pbcompat_gencode_roundtrip():
    """With pbcompat active the pyspark TWS gencode imports and a
    message survives serialize→parse on the discovered runtime."""
    from dump1090_postgis_spark.streaming import pbcompat

    if not (pbcompat.prepare_env() and pbcompat.tws_available()):
        pytest.skip("no TWS-capable protobuf runtime on this host")
    import pyspark.sql.streaming.proto.StateMessage_pb2 as sm

    req = sm.StateRequest(version=1)
    parsed = sm.StateRequest.FromString(req.SerializeToString())
    assert parsed.version == 1


def test_resolve_stream_engine():
    """engine dispatch: explicit values pass through, bad values raise,
    'auto' resolves consistently with transport availability."""
    from dump1090_postgis_spark.streaming.pipeline import resolve_stream_engine

    assert resolve_stream_engine("tws") == "tws"
    assert resolve_stream_engine("legacy") == "legacy"
    with pytest.raises(ValueError):
        resolve_stream_engine("rdd")
    expected = "tws" if _has_protobuf() else "legacy"
    assert resolve_stream_engine("auto") == expected
    assert resolve_stream_engine() == expected


def _legacy_name_processor_cls(state_name: str = "session"):
    """Pandas-flavour TWS processor (``transformWithStateInPandas``) —
    the checkpoint writer for the guard and migration tests.  With the
    default ``state_name`` it is the pre-lazy-timer shape: bare
    STATE_SCHEMA under the old 'session' name; with ``'session_v2'`` it
    stores the current TWS_STATE_SCHEMA (deadline fields zeroed)."""
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor

    from dump1090_postgis_spark.streaming.state import (
        STATE_SCHEMA,
        advance_session,
    )
    from dump1090_postgis_spark.streaming.tws import TWS_STATE_SCHEMA

    v2 = state_name == "session_v2"

    class LegacyNameProcessor(StatefulProcessor):
        def init(self, handle):
            self._sess = handle.getValueState(
                state_name, TWS_STATE_SCHEMA if v2 else STATE_SCHEMA
            )

        def handleInputRows(self, key, rows, timerValues):
            packed = self._sess.get()
            prior = None if packed is None else tuple(packed)[:10]

            def _rows():
                for pdf in rows:
                    yield from pdf.sort_values("gen_date_time").itertuples(
                        index=False
                    )

            admitted, new_state, out_rows = advance_session(
                key[0], prior, _rows()
            )
            if admitted:
                self._sess.update(tuple(new_state) + ((0, False) if v2 else ()))
            if out_rows:
                yield pd.DataFrame(out_rows)

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            return
            yield

        def close(self):
            pass

    return LegacyNameProcessor


def _renamed_processor(state_name: str):
    """The row-based processor with its session state stored under
    ``state_name`` instead of TWS_STATE_NAME: the writer of a real
    checkpoint whose only difference from the current handler is the
    state variable's name."""
    from dump1090_postgis_spark.streaming.tws import (
        TWS_STATE_SCHEMA,
        SessionProcessor,
    )

    class RenamedProcessor(SessionProcessor):
        def init(self, handle):
            self._handle = handle
            self._sess = handle.getValueState(state_name, TWS_STATE_SCHEMA)

    return RenamedProcessor()


def _await_two_batches(q) -> None:
    """Wait until the query has committed batches 0 and 1, then stop it."""
    deadline = time.time() + 90
    while time.time() < deadline:
        p = q.lastProgress
        if p and p.get("batchId", -1) >= 1:
            break
        time.sleep(1)
    q.stop()
    q.awaitTermination(60)


def _run_legacy_name_checkpoint(
    spark, drop: str, ckpt: str, state_name: str = "session",
    row_based: bool = False,
) -> None:
    """Run a transformWithState processor over the text drop dir until
    two batches commit, writing a REAL checkpoint of that operator:
    the pandas flavour (pre-rename by default), or with ``row_based``
    the current handler under another state name."""
    from dump1090_postgis_spark.streaming.pipeline import parsed_stream
    from dump1090_postgis_spark.streaming.state import EVENT_OUTPUT_SCHEMA
    from dump1090_postgis_spark.streaming.tws import ROCKSDB_PROVIDER

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER
    )
    grouped = parsed_stream(spark.readStream.text(drop)).groupBy("hexident")
    if row_based:
        apply, proc = grouped.transformWithState, _renamed_processor(state_name)
    else:
        apply = grouped.transformWithStateInPandas
        proc = _legacy_name_processor_cls(state_name)()
    try:
        _await_two_batches(
            apply(
                proc,
                outputStructType=EVENT_OUTPUT_SCHEMA,
                outputMode="append",
                timeMode="ProcessingTime",
            )
            .writeStream.outputMode("append")
            .format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="1 second")
            .start()
        )
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )


def _run_pipeline_checkpoint(spark, drop: str, ckpt: str, engine: str) -> None:
    """Run ``start_pipeline`` on ``engine`` until two batches commit."""
    from dump1090_postgis_spark.streaming.pipeline import start_pipeline

    _await_two_batches(
        start_pipeline(
            spark.readStream.text(drop), lambda bdf, eid: bdf.collect(), ckpt,
            engine=engine,
        )
    )


def test_checkpoint_state_guard_unit(spark, tmp_path):
    """assert_checkpoint_state_compatible over checkpoints that hold no
    session state: a fresh path, an empty directory and metadata Spark
    cannot read all pass (the state-metadata source returns no rows),
    while a checkpoint URI Spark cannot reach fails the start instead
    of passing as fresh."""
    from dump1090_postgis_spark.streaming.tws import (
        assert_checkpoint_state_compatible,
    )

    assert_checkpoint_state_compatible(spark, str(tmp_path / "fresh"), "tws")
    os.makedirs(tmp_path / "empty")
    assert_checkpoint_state_compatible(spark, str(tmp_path / "empty"), "legacy")

    bad = tmp_path / "bad" / "state" / "0" / "_metadata" / "v2"
    os.makedirs(bad)
    (bad / "0").write_text("not json at all")
    assert_checkpoint_state_compatible(spark, str(tmp_path / "bad"), "tws")

    # no s3a filesystem is on the classpath: the reader fails at once
    with pytest.raises(Exception, match="s3a"):
        assert_checkpoint_state_compatible(
            spark, "s3a://no-such-bucket/ckpt", "tws"
        )


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="needs the TWS transport to write a real legacy-named checkpoint",
)
def test_tws_restart_from_legacy_name_checkpoint_fails_loudly(spark, tmp_path):
    """The session_v2 rename's actual contract: Spark 4 permits
    add/remove of state variables on restart, so a restart from a
    checkpoint of this handler under the pre-rename 'session' name
    would SUCCEED and silently drop in-flight sessions (measured on
    this build).  The loud failure is the driver-side guard — write a
    REAL row-based checkpoint with the old state name, then assert both
    the guard and the start_pipeline TWS path refuse it, naming the
    migration from the old variable."""
    from dump1090_postgis_spark.streaming.pipeline import start_pipeline
    from dump1090_postgis_spark.streaming.tws import (
        assert_checkpoint_state_compatible,
    )

    drop = str(tmp_path / "drop")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(drop)
    with open(os.path.join(drop, "a.txt"), "w") as f:
        f.write(LINES[0] + "\n" + LINES[2])

    _run_legacy_name_checkpoint(spark, drop, ckpt, row_based=True)

    with pytest.raises(RuntimeError, match="in-flight session"):
        assert_checkpoint_state_compatible(spark, ckpt, "tws")

    with pytest.raises(RuntimeError, match="fresh checkpoint") as ei:
        start_pipeline(
            spark.readStream.text(drop),
            lambda bdf, eid: None,
            ckpt,
            engine="tws",
        )
    assert "state_name='session')" in str(ei.value)


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="needs the TWS transport to write a real pandas-operator checkpoint",
)
def test_tws_restart_from_pandas_operator_checkpoint_fails_loudly(spark, tmp_path):
    """A checkpoint of the pandas operator (transformWithStateInPandas)
    with the CURRENT state name: Spark would refuse the row-based
    restart inside the query with an operator-mismatch error that does
    not say what to do.  The guard refuses it before start, and the
    migration call its message names reads the in-flight session."""
    from dump1090_postgis_spark.streaming.pipeline import start_pipeline
    from dump1090_postgis_spark.streaming.tws import (
        assert_checkpoint_state_compatible,
        legacy_session_initial_state,
    )

    drop = str(tmp_path / "drop")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(drop)
    with open(os.path.join(drop, "a.txt"), "w") as f:
        f.write("\n".join([LINES[0], LINES[1], LINES[2]]))

    _run_legacy_name_checkpoint(spark, drop, ckpt, state_name="session_v2")

    with pytest.raises(RuntimeError, match="transformWithStateInPandasExec"):
        assert_checkpoint_state_compatible(spark, ckpt, "tws")
    with pytest.raises(RuntimeError, match="state_name='session_v2'") as ei:
        start_pipeline(
            spark.readStream.text(drop),
            lambda bdf, eid: None,
            ckpt,
            engine="tws",
        )
    # both ways out: drain to a fresh checkpoint, or migrate
    assert "fresh checkpoint" in str(ei.value)
    assert "initial_state=" in str(ei.value)

    rows = legacy_session_initial_state(
        spark, ckpt, state_name="session_v2"
    ).collect()
    assert [(r.hexident, r.n_messages, r.callsign) for r in rows] == [
        ("AAA111", 3, "TST100")
    ]


def test_tws_refuses_legacy_engine_checkpoint(spark, tmp_path):
    """legacy → TWS, e.g. ``engine='auto'`` on a host that ran the
    legacy fallback and later gained a protobuf runtime: without the
    guard the TWS query starts and then dies inside Spark
    (STREAMING_STATEFUL_OPERATOR_NOT_MATCH_IN_STATE_METADATA).  The
    guard refuses before start and names the engine that wrote the
    checkpoint; the legacy engine itself resumes from it."""
    from dump1090_postgis_spark.streaming.pipeline import start_pipeline
    from dump1090_postgis_spark.streaming.tws import (
        assert_checkpoint_state_compatible,
    )

    drop = str(tmp_path / "drop")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(drop)
    with open(os.path.join(drop, "a.txt"), "w") as f:
        f.write("\n".join(LINES[:3]))
    _run_pipeline_checkpoint(spark, drop, ckpt, "legacy")

    assert_checkpoint_state_compatible(spark, ckpt, "legacy")
    with pytest.raises(RuntimeError, match="'applyInPandasWithState'") as ei:
        start_pipeline(
            spark.readStream.text(drop), lambda bdf, eid: None, ckpt,
            engine="tws",
        )
    assert "fresh checkpoint" in str(ei.value)
    assert "engine='legacy'" in str(ei.value)
    # the migration helper reads transformWithState state only
    assert "initial_state=" not in str(ei.value)


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="needs the TWS transport to write a real TWS checkpoint",
)
def test_legacy_refuses_tws_engine_checkpoint(spark, tmp_path):
    """TWS → legacy, e.g. ``engine='auto'`` after the protobuf runtime
    went away: the legacy engine is refused before start, and the
    message names the engine that wrote the checkpoint."""
    from dump1090_postgis_spark.streaming.pipeline import start_pipeline
    from dump1090_postgis_spark.streaming.tws import (
        assert_checkpoint_state_compatible,
    )

    drop = str(tmp_path / "drop")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(drop)
    with open(os.path.join(drop, "a.txt"), "w") as f:
        f.write("\n".join(LINES[:3]))
    _run_pipeline_checkpoint(spark, drop, ckpt, "tws")

    assert_checkpoint_state_compatible(spark, ckpt, "tws")
    with pytest.raises(
        RuntimeError, match="'transformWithStateInPySparkExec'"
    ) as ei:
        start_pipeline(
            spark.readStream.text(drop), lambda bdf, eid: None, ckpt,
            engine="legacy",
        )
    assert "fresh checkpoint" in str(ei.value)
    assert "engine='tws'" in str(ei.value)


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="needs the TWS transport to write a real legacy-named checkpoint",
)
def test_tws_legacy_checkpoint_migration_preserves_sessions(spark, tmp_path):
    """Round-10 verdict #4 — the migration the guard points at: read
    the old 'session' column family via the state-store reader
    (legacy_session_initial_state), start the UPGRADED handler on a
    FRESH checkpoint with initial_state=, and prove the in-flight
    session carried over: the landing detected by the NEW query counts
    the OLD messages (n_messages = 3 migrated + 1 new), keeps the OLD
    first_seen and accumulated callsign, and sees the migrated
    onground=False so the edge fires at all."""
    from dump1090_postgis_spark.streaming.pipeline import parsed_stream
    from dump1090_postgis_spark.streaming.tws import (
        ROCKSDB_PROVIDER,
        event_stream_tws,
        legacy_session_initial_state,
    )

    drop_old = str(tmp_path / "drop_old")
    ckpt_old = str(tmp_path / "ckpt_old")
    os.makedirs(drop_old)
    # airborne positions + callsign: an IN-FLIGHT session, no events
    with open(os.path.join(drop_old, "a.txt"), "w") as f:
        f.write("\n".join([LINES[0], LINES[1], LINES[2]]))
    _run_legacy_name_checkpoint(spark, drop_old, ckpt_old)

    init = legacy_session_initial_state(spark, ckpt_old)
    rows = init.collect()
    assert len(rows) == 1
    assert rows[0].hexident == "AAA111"
    assert rows[0].n_messages == 3
    assert rows[0].onground is False
    assert rows[0].callsign == "TST100"

    drop_new = str(tmp_path / "drop_new")
    ckpt_new = str(tmp_path / "ckpt_new")
    os.makedirs(drop_new)
    with open(os.path.join(drop_new, "b.txt"), "w") as f:
        f.write(LINES[3])  # onground flip → landing edge

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER
    )
    try:
        q = (
            event_stream_tws(
                parsed_stream(spark.readStream.text(drop_new)),
                initial_state=init,
            )
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("tws_migrated")
            .option("checkpointLocation", ckpt_new)
            .trigger(processingTime="1 second")
            .start()
        )
        deadline = time.time() + 90
        while time.time() < deadline:
            if spark.sql("select * from tws_migrated").count() >= 1:
                break
            time.sleep(1)
        q.stop()
        q.awaitTermination(60)
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )

    out = spark.sql("select * from tws_migrated").collect()
    assert len(out) == 1, out
    ev = out[0]
    assert ev.kind == "landing"
    assert ev.n_messages == 4          # 3 migrated + 1 new
    assert str(ev.first_seen).startswith("2024-05-01 10:00:00")
    assert ev.callsign == "TST100"


def test_tws_initial_state_rejects_duplicate_key_rows():
    """handleInitialState must REJECT a second initial-state row for
    one key instead of silently overwriting the first — a union of two
    legacy checkpoints (or a manual seed on top of a migration) would
    otherwise lose the first row's n_messages/first_seen/callsign with
    no error, the exact silent drop the state-name guard exists to
    prevent.  The row-based runtime calls handleInitialState once per
    row, so the second call for the key is the one that must raise."""
    import pytest
    from pyspark.sql import Row
    from pyspark.sql.streaming.stateful_processor import TimerValues

    from dump1090_postgis_spark.streaming.tws import (
        _STATE_FIELD_NAMES,
        SessionProcessor,
    )

    class _State:
        def __init__(self):
            self.v = None

        def exists(self):
            return self.v is not None

        def update(self, v):
            self.v = tuple(v)

    class _Handle:
        def getValueState(self, name, schema):
            return _State()

        def registerTimer(self, ts):
            pass

    proc = SessionProcessor()
    proc.init(_Handle())
    row = Row(**{f: None for f in _STATE_FIELD_NAMES})
    first = row.asDict() | {"first_seen": 1_700_000_000_000, "n_messages": 3}
    proc.handleInitialState(("AAA111",), Row(**first), TimerValues(0))
    with pytest.raises(ValueError, match="one row"):
        proc.handleInitialState(("AAA111",), row, TimerValues(0))


def test_handler_sorts_across_arrow_chunks():
    """A key whose batch spans several Arrow chunks arrives as
    multiple pdfs in shuffle order — the handler must sort the WHOLE
    group, not each chunk, or cross-chunk disorder feeds the edge
    machine backwards (spurious/lost events)."""
    import pandas as pd

    from dump1090_postgis_spark.streaming.state import sessionize_updates

    def pdf(rows):
        return pd.DataFrame(
            rows,
            columns=["gen_date_time", "transmission_type", "onground",
                     "longitude", "latitude", "altitude", "callsign"],
        )

    s = 1_000_000
    t = lambda us: pd.Timestamp(us, unit="us")  # noqa: E731
    # chunk A holds the LATER rows (landing at t=30s), chunk B the
    # earlier airborne rows — correct order: airborne then landing
    chunk_a = pdf([(t(30 * s), 2, True, 1.0, 2.0, None, None)])
    chunk_b = pdf([
        (t(0), 2, False, 1.0, 2.0, None, None),
        (t(10 * s), 2, False, 1.1, 2.1, None, None),
    ])

    class _State:
        hasTimedOut = False
        exists = False

        def update(self, v):
            self.exists = True
        def setTimeoutDuration(self, ms):
            pass

    out = list(sessionize_updates(("AAA111",), [chunk_a, chunk_b], _State()))
    events = pd.concat(out) if out else pd.DataFrame()
    assert len(events) == 1
    assert events.iloc[0]["kind"] == "landing"
    assert str(events.iloc[0]["first_seen"]).startswith("1970-01-01 00:00:00")


def test_advance_session_skips_unparseable_timestamps():
    """PRJ-3 NULL-on-fail dates surface as pd.NaT; NaT.value is
    int64-min, which poisoned first_seen and later overflowed
    pd.Timestamp at emit — such rows are skipped (the reference's
    strptime raises and its malformed gate drops the line)."""
    import pandas as pd

    from dump1090_postgis_spark.streaming.state import (
        advance_session,
        summary_row,
    )

    s = 1_000_000
    rows = [
        _msg(0, onground=False)._replace(gen_date_time=pd.NaT),  # dropped
        _msg(10 * s, onground=False),
        _msg(20 * s, onground=True),  # landing
    ]
    admitted, state, out = advance_session("AAA111", None, iter(rows))
    assert admitted
    assert state[0] == 10 * s  # first_seen from the first VALID row
    assert len(out) == 1 and out[0]["kind"] == "landing"
    # summary emission must not overflow
    summ = summary_row("AAA111", state)
    assert str(summ["first_seen"]).startswith("1970-01-01 00:00:10")
