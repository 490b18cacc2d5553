"""Dense, deterministic, fully-parallel surrogate ids.

``Window.orderBy(...)`` row_number with no partition key funnels the
whole table through one task — fine for unit fixtures, fatal at scale.
This is the standard two-pass dense-id assignment instead:

1. range-partition + sort by the (total) ordering key;
2. number rows within each partition;
3. offset each partition by the cumulative count of the partitions
   before it (a driver-side array of per-partition counts — thousands
   of longs, not data).

Partition boundaries from repartitionByRange are sampling-based and
may vary run-to-run, but the assigned ids depend only on the GLOBAL
order (offsets absorb boundary placement), so ids are reproducible as
long as the ordering is total — callers must include a tiebreaker.

``group_col`` numbers several id spaces in the same two passes: the
counts and offsets are keyed by (partition, group), so each group's
ids run 1..n in ``order_cols`` order however its rows spread over the
range partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel

from ..session import job_scope


def release_caches(caches: list[DataFrame]) -> None:
    """Unpersist every DataFrame collected in a cache registry (see
    ``with_dense_ids(caches=...)``) and clear the list.  Call after the
    dependent outputs have been materialized (written / collected) —
    at 100× scale a lingering pinned table competes with the shuffle
    for executor memory for the rest of the job."""
    for df in caches:
        df.unpersist()
    caches.clear()


@job_scope("operators.ids.with_dense_ids")
def with_dense_ids(
    df: DataFrame,
    order_cols: list[str],
    id_col: str = "id",
    caches: list[DataFrame] | None = None,
    group_col: str | None = None,
) -> DataFrame:
    """Add 1-based dense ids following the total order of `order_cols`.

    ``group_col`` restarts the ids within each value of that column
    (NULL is a group of its own): every group gets its own dense
    ``1 .. n`` space in ``order_cols`` order, as if
    each group had been numbered by a separate call — but from one
    layout pin and one counting job.  ``order_cols`` only has to be
    total within a group.  ``None`` numbers the whole frame as one
    space.

    The internal persist (DISK_ONLY — this is a layout pin, not a hot
    cache; it must not evict executor heap at scale) is appended to
    ``caches`` when given so the caller can ``release_caches`` once the
    numbered output is materialized.
    """
    spark = df.sparkSession
    n_parts = max(2, spark.sparkContext.defaultParallelism)
    arranged = df.repartitionByRange(n_parts, *order_cols).sortWithinPartitions(
        *order_cols
    )
    # Persist BEFORE counting: repartitionByRange samples per
    # execution, so without pinning the layout the counting pass and
    # the numbering pass could see different partition boundaries —
    # colliding or gapping the ids.  The persist fixes one boundary
    # set for both passes.
    with_pid = arranged.withColumn("_pid", F.spark_partition_id()).persist(
        StorageLevel.DISK_ONLY
    )
    if caches is not None:
        caches.append(with_pid)
    keys = ["_pid"] + ([group_col] if group_col is not None else [])
    counts = with_pid.groupBy(*keys).agg(F.count(F.lit(1)).alias("_cnt")).collect()
    # Each group's running total walks the partitions in range order,
    # so a group's offset in partition p counts only its own rows in
    # the partitions before p.
    running: dict = {}
    offsets = []
    for r in sorted(counts, key=lambda r: r._pid):
        g = r[group_col] if group_col is not None else None
        acc = running.get(g, 0)
        offsets.append((r._pid, g, acc))
        running[g] = acc + r._cnt
    # literal_dim, not createDataFrame: the offset map is re-read every
    # time the numbered plan executes, and a Python-RDD leaf would
    # relaunch Python workers for it on each broadcast build — as a
    # LocalRelation it folds into the plan (round-12 literal-dim sweep)
    from ..sources.dims import literal_dim

    if group_col is None:
        offset_df = literal_dim(
            spark, [(pid, off) for pid, _, off in offsets], "_pid int, _poff long"
        )
        numbered = with_pid.join(F.broadcast(offset_df), "_pid")
    else:
        schema = T.StructType(
            [
                T.StructField("_opid", T.IntegerType()),
                T.StructField("_ogrp", df.schema[group_col].dataType),
                T.StructField("_poff", T.LongType()),
            ]
        )
        offset_df = literal_dim(spark, offsets, schema)
        numbered = with_pid.join(
            F.broadcast(offset_df),
            (F.col("_pid") == F.col("_opid"))
            & F.col(group_col).eqNullSafe(F.col("_ogrp")),
        ).drop("_opid", "_ogrp")
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    return numbered.withColumn(
        id_col, F.row_number().over(w) + F.col("_poff")
    ).drop("_pid", "_poff")
