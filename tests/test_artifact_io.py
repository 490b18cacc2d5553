"""The persisted artifacts' commit protocol (``datapipe.artifact_io``):
the IVF cell store, the cluster map and the LSH banded artifact are
written through ``publish`` and opened through ``verify``; a crash at
any point leaves a store that is refused and then rebuilt by its
compute-if-missing entry."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from dump1090_postgis_spark.datapipe import artifact_io
from dump1090_postgis_spark.datapipe import similarity as sim
from dump1090_postgis_spark.datapipe.artifact_io import publish, verify
from dump1090_postgis_spark.datapipe.lsh_artifact import ensure_banded_artifact
from dump1090_postgis_spark.plans import datapipe_queries as dq

SF = "/root/testdata/sf0.001"


def _ensure_banded(spark, sf):
    return ensure_banded_artifact(sf, dq.lsh_banded_artifact(sf))


#: store → (Spark writer entry, compute-if-missing entry, path of sf)
STORES = {
    "ivf_cell_store": (
        dq.q_ann_topk_ivf_pq_store,
        dq.q_ann_topk_ivf_pq_store,
        dq.ivf_store_artifact,
    ),
    "cluster_map": (
        dq.q_dedup_clusters,
        dq.q_dedup_clusters,
        dq.cluster_map_artifact,
    ),
    "lsh_banded": (
        dq.q_dedup_minhash_lsh_fast,
        _ensure_banded,
        dq.lsh_banded_artifact,
    ),
}


@pytest.fixture
def artifacts(monkeypatch, tmp_path):
    monkeypatch.setattr(dq, "_ARTIFACTS_DIR", str(tmp_path / "artifacts"))


def test_publish_on_local_path_runs_no_spark_job(spark, tmp_path):
    """Both stamps and the verify read go through pyarrow on a local
    path: a publish with a pyarrow-only write runs no Spark job."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    path = str(tmp_path / "store")

    def write():
        pq.write_table(
            pa.table({"x": [1, 2]}), os.path.join(path, "part-0.parquet")
        )

    sc.setJobGroup("stamp-cost", "publish with a pyarrow-only write")
    try:
        publish(spark, path, write, {"rows": 2})
        assert verify(spark, path, {"rows": 2}) == {"rows": 2}
        assert tracker.getJobIdsForGroup("stamp-cost") == []
        # control: the tracker does see a job of this group
        spark.range(3).count()
        assert tracker.getJobIdsForGroup("stamp-cost")
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)


@pytest.mark.parametrize("store", sorted(STORES))
def test_crash_before_witness_is_refused_then_rebuilt(
    spark, artifacts, monkeypatch, store
):
    """The data lands but the final stamp never does: verify refuses
    the store, and the compute-if-missing entry rebuilds it."""
    write, rebuild, path_of = STORES[store]
    path = path_of(SF)
    real = artifact_io._stamp

    def crash_on_final(spark, path, value):
        if value != artifact_io._PENDING:
            raise RuntimeError("crashed before the witness")
        real(spark, path, value)

    monkeypatch.setattr(artifact_io, "_stamp", crash_on_final)
    with pytest.raises(RuntimeError, match="crashed before the witness"):
        write(spark, SF)
    monkeypatch.setattr(artifact_io, "_stamp", real)
    # the data write overwrote the directory, pending stamp included
    assert any(f.endswith(".parquet") or "=" in f for f in os.listdir(path))
    with pytest.raises(ValueError, match="no witness"):
        verify(spark, path, {})
    rebuilt = rebuild(spark, SF)
    if store == "lsh_banded":
        assert rebuilt is True
    verify(spark, path, {})


@pytest.mark.parametrize(
    "store,key,value",
    [
        ("cluster_map", "params", {"threshold": 0.9}),
        ("lsh_banded", "documents", 7),
    ],
)
def test_stale_witness_is_refused_naming_both_payloads(
    spark, artifacts, store, key, value
):
    """A store whose witness describes another corpus is refused with
    the stored and the expected values in the message, and its entry
    rebuilds it.  (The IVF store's witness carries no corpus key: its
    staleness is the quantizer, caught by the centroid sidecar check.)"""
    write, rebuild, path_of = STORES[store]
    path = path_of(SF)
    write(spark, SF)
    fresh = verify(spark, path, {})
    stale = {**fresh, key: value}
    # a build for another corpus: same layout, different witness
    publish(spark, path, lambda: None, stale)
    with pytest.raises(ValueError, match="stale") as err:
        verify(spark, path, fresh)
    assert str(stale[key]) in str(err.value)
    assert str(fresh[key]) in str(err.value)
    rebuild(spark, SF)
    verify(spark, path, fresh)


def test_ivf_append_dying_mid_write_is_refused(spark, tmp_path):
    """An append whose Spark job fails part-way leaves the witness
    pending: the store is refused, and so is a further append."""
    import random

    rnd = random.Random(86)
    rows = [(i, [rnd.gauss(0, 1) for _ in range(8)]) for i in range(40)]
    schema = "vec_id long, embedding array<double>"
    batch_a = spark.createDataFrame(rows[:25], schema)
    batch_b = spark.createDataFrame(rows[25:], schema)
    cent = sim.build_centroids(batch_a, num_centroids=2)
    cen_rows = sim._collect_centroids(cent)
    path = str(tmp_path / "store")
    sim.write_ivf_cell_store(batch_a, cent, path, num_partitions=2)
    dying = batch_b.withColumn(
        "embedding",
        F.when(F.col("vec_id") == 39, F.raise_error(F.lit("disk gone")))
        .otherwise(F.col("embedding")),
    )
    with pytest.raises(Exception, match="disk gone"):
        sim.append_ivf_cell_store(dying, path, num_partitions=2)
    with pytest.raises(ValueError, match="pending"):
        sim._load_ivf_cell_store(spark, path, cen_rows, "embedding", "vec_id")
    with pytest.raises(ValueError, match="pending"):
        sim.append_ivf_cell_store(batch_b, path, num_partitions=2)


def test_ivf_append_reads_its_sidecar_without_spark(spark, tmp_path):
    """The append reads the store's nlist-row centroid sidecar on the
    driver, not through Spark (a Spark read and collect of it is 2
    more jobs): on a 40-row store the append runs at most 6 jobs."""
    import random

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    rnd = random.Random(86)
    rows = [(i, [rnd.gauss(0, 1) for _ in range(8)]) for i in range(40)]
    schema = "vec_id long, embedding array<double>"
    batch_a = spark.createDataFrame(rows[:25], schema)
    batch_b = spark.createDataFrame(rows[25:], schema)
    cent = sim.build_centroids(batch_a, num_centroids=2)
    path = str(tmp_path / "store")
    sim.write_ivf_cell_store(batch_a, cent, path, num_partitions=2)
    sc.setJobGroup("ivf-append", "append one batch")
    try:
        sim.append_ivf_cell_store(batch_b, path, num_partitions=2)
        assert len(tracker.getJobIdsForGroup("ivf-append")) <= 6
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    cen_rows = sim._collect_centroids(cent)
    store = sim._load_ivf_cell_store(spark, path, cen_rows, "embedding", "vec_id")
    assert sorted(r.vec_id for r in store.select("vec_id").collect()) == list(range(40))


def test_lsh_partial_parquet_without_witness_is_rebuilt(tmp_path):
    """A torn banded artifact (one partial part file, no witness) is
    rebuilt, not read as whole: the torn file goes and the directory
    holds exactly the twin's full rows."""
    sf = "/root/testdata/sf0.01"
    full = tmp_path / "full"
    assert ensure_banded_artifact(sf, str(full)) is True

    def rows(d):
        return sorted(
            tuple(r.values())
            for f in sorted(os.listdir(d)) if f.endswith(".parquet")
            for r in pq.read_table(os.path.join(d, f)).to_pylist()
        )

    want = rows(full)
    assert len(want) == 4 * 500
    torn = tmp_path / "torn"
    torn.mkdir()
    pq.write_table(
        pq.read_table(str(full / "part-python-twin.parquet")).slice(0, 10),
        str(torn / "part-00000-torn.parquet"),
    )
    assert ensure_banded_artifact(sf, str(torn)) is True
    assert "part-00000-torn.parquet" not in os.listdir(torn)
    assert rows(torn) == want
