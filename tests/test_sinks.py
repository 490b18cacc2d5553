"""foreachBatch sinks: per-epoch parquet overwrite split by kind (SNK-1)
and the dual-write live copy (SNK-2/3), driven by the real streaming
pipeline."""

import time

import pytest
from pyspark.sql import functions as F

from dump1090_postgis_spark.datapipe.similarity import normalize_vectors
from dump1090_postgis_spark.streaming.pipeline import (
    event_stream,
    parsed_stream,
    start_pipeline,
)
from dump1090_postgis_spark.streaming.sinks import parquet_event_sink

LINES = [
    "MSG,3,1,1,5AC001,1,2024/05/01,10:00:00.000,2024/05/01,10:00:00.000,,500,,,47.10,-1.60,,,0,,0,0",
    "MSG,3,1,1,5AC001,1,2024/05/01,10:00:05.000,2024/05/01,10:00:05.000,,20,,,47.11,-1.61,,,0,,0,-1",
]


@pytest.mark.parametrize("engine", ["tws", "legacy"])
def test_parquet_event_sink_end_to_end(spark, tmp_path, engine):
    """The sink writes two tables from one micro-batch; both writes
    must read one persisted copy, so the stateful session operator
    runs once per trigger.  Spark's own progress counter shows it: the
    fixture's single aircraft updates its state row once, where a
    second execution of the batch would count it twice."""
    drop = tmp_path / "drop"
    drop.mkdir()
    (drop / "cap.txt").write_text("\n".join(LINES))
    out = tmp_path / "out"
    q = start_pipeline(
        spark.readStream.text(str(drop)),
        parquet_event_sink(str(out)),
        checkpoint_dir=str(tmp_path / "ckpt"),
        trigger="1 second",
        engine=engine,
    )
    deadline = time.time() + 90
    progress = None
    try:
        while time.time() < deadline and progress is None:
            progress = next(
                (p for p in q.recentProgress if p["numInputRows"] > 0), None
            )
            if q.exception() is not None:
                raise q.exception()
            time.sleep(1)
    finally:
        q.stop()
    assert progress is not None, "the data batch never completed"
    assert progress["stateOperators"][0]["numRowsUpdated"] == 1
    rows = spark.read.parquet(str(out / "events")).collect()
    assert len(rows) == 1
    assert rows[0].kind == "landing" and rows[0].hexident == "5AC001"
    assert rows[0].epoch >= 0  # epoch tag present for replay auditing


def test_parquet_event_sink_replayed_epoch_stores_rows_once(spark, tmp_path):
    """A replayed epoch (the query re-runs a batch after a crash)
    replaces the rows its first run wrote: each row is stored once,
    readable through Spark and through pyarrow.dataset with one
    ``epoch`` column."""
    import pyarrow.dataset as pads

    sink = parquet_event_sink(str(tmp_path))
    schema = "hexident string, kind string"
    first = spark.createDataFrame(
        [("A1", "landing"), ("B2", "takeoff"), ("A1", "flight_summary")],
        schema,
    )
    sink(first, 1)
    sink(first, 1)  # replay
    sink(spark.createDataFrame([("C3", "landing")], schema), 2)
    events = spark.read.parquet(str(tmp_path / "events"))
    assert sorted((r.hexident, r.kind, r.epoch) for r in events.collect()) == [
        ("A1", "landing", 1), ("B2", "takeoff", 1), ("C3", "landing", 2)
    ]
    summaries = spark.read.parquet(str(tmp_path / "flight_summaries"))
    assert [(r.hexident, r.epoch) for r in summaries.collect()] == [("A1", 1)]
    table = pads.dataset(str(tmp_path / "events"), format="parquet").to_table()
    assert table.schema.names.count("epoch") == 1
    assert sorted(table.column("epoch").to_pylist()) == [1, 1, 2]


def test_normalize_vectors(spark):
    df = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    out = {r.vec_id: r.embedding for r in normalize_vectors(df).collect()}
    assert out[1] == pytest.approx([0.6, 0.8])
    assert out[2] == [0.0, 0.0]  # zero vector untouched, no div-by-zero


def test_kmeans_refinement_improves_or_holds_recall(spark):
    import random

    from dump1090_postgis_spark.datapipe.similarity import (
        brute_force_topk,
        build_centroids,
        ivf_topk,
    )

    rnd = random.Random(3)
    # two well-separated clusters so refined centroids should find them
    rows = []
    for i in range(30):
        base = 1.0 if i % 2 else -1.0
        rows.append((i, [base + rnd.gauss(0, 0.05) for _ in range(8)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.filter(F.col("vec_id") < 3)
    exact = {(r.query_id, r.neighbor_id)
             for r in brute_force_topk(emb, queries, k=3).collect()}

    refined = build_centroids(emb, num_centroids=2, iterations=2)
    approx = {(r.query_id, r.neighbor_id)
              for r in ivf_topk(emb, queries, refined, k=3, probes=1).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall == 1.0  # clean clusters + refined centroids → exact recall
