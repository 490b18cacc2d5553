"""Storage layout for the persisted tables (SURVEY §4 rows 1-2).

The reference tunes Postgres physically: btree indexes on hot
predicates and ``CLUSTER ON idx_positions_flight_id`` to co-locate a
flight's positions (create_public_schema.sql:759-811).  The Spark
equivalents are layout decisions at WRITE time:

- ``write_time_partitioned`` — date-partition so FLT-5/6 range queries
  prune whole partitions (the index-on-time analog; parquet min/max
  gives intra-file skipping for free);
- ``write_clustered`` — repartition by key + sortWithinPartitions
  (the CLUSTER analog): a later groupBy/join on the key reads
  co-located, pre-sorted data, and trajectory assembly (AGG-5) becomes
  a within-partition operation;
- ``write_bucketed`` — saveAsTable with bucketing, so repeated joins
  on the key skip their shuffles entirely (needs a metastore-backed
  table; path-based parquet cannot persist bucket metadata).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_time_partitioned(
    df: DataFrame,
    path: str,
    ts: str = "time",
    cluster_key: str | None = None,
) -> None:
    """Overwrite ``path`` partitioned by event date (`_dt` directory
    column — readers prune whole directories on a `_dt` predicate;
    plans/adsb.py's FLT-5/6 helpers emit one automatically when the
    column is present), in ``defaultParallelism`` partitions; sort
    within files by time so min/max row-group stats stay tight.

    ``cluster_key`` additionally hash-spreads each date across tasks
    and co-sorts by (key, time) — the CLUSTER-ON analog, AND the
    scale guard: without it a hot date funnels through one task (a
    100 TB day must parallelize within the date, not across dates
    only)."""
    n = df.sparkSession.sparkContext.defaultParallelism
    staged = df.withColumn("_dt", F.to_date(F.col(ts)))
    keys = [F.col("_dt")] + ([F.col(cluster_key)] if cluster_key else [])
    sort_cols = ([cluster_key] if cluster_key else []) + [ts]
    (
        staged.repartition(n, *keys)
        .sortWithinPartitions("_dt", *sort_cols)
        .write.mode("overwrite")
        .partitionBy("_dt")
        .parquet(path)
    )


def write_clustered(
    df: DataFrame,
    path: str,
    key: str = "flight_id",
    sort: str = "time",
    num_partitions: int | None = None,
    mode: str = "overwrite",
) -> None:
    """CLUSTER-ON analog: co-locate and pre-sort each key's rows."""
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    (
        df.repartition(n, key)
        .sortWithinPartitions(key, sort)
        .write.mode(mode)
        .parquet(path)
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str = "flight_id",
    sort: str = "time",
    num_buckets: int = 32,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table: joins/groupBys on `key` across jobs
    reuse the bucketing instead of shuffling."""
    (
        df.write.mode(mode)
        .bucketBy(num_buckets, key)
        .sortBy(key, sort)
        .saveAsTable(table)
    )


def zorder_key(
    cols: list[tuple[str, float, float]],
    bits: int = 16,
) -> F.Column:
    """Morton (Z-order) interleave of 2+ quantized columns — ONE sort
    key under which rows close in EVERY dimension land close on disk,
    so parquet min/max row-group stats prune multi-dimensional range
    predicates (the lever single-column clustering can't give: sorted
    by time alone, a `user_id` predicate reads every file).

    ``cols`` = (column, lo, hi) with fixed quantization bounds —
    bounds are part of the LAYOUT contract, exactly like a partition
    scheme, so the key is a pure deterministic projection (no
    rank/percentile pass, stable under appends).  Each value clamps to
    [lo, hi], quantizes to ``bits`` levels, and the per-column bits
    interleave MSB-first (column order = tie priority).

    Pure integer/bit expressions (codegen'd); 2 cols × 16 bits = 32
    OR-terms folded at plan time.
    """
    if len(cols) < 2:
        raise ValueError("zorder interleave needs at least 2 columns")
    n = len(cols)
    if n * bits > 63:
        # position 63 is the bigint sign bit (negative keys would sort
        # before all positive ones, destroying locality) and shiftleft
        # masks its shift amount & 63 (silent collisions past it)
        raise ValueError(
            f"zorder key needs {n}*{bits}={n * bits} bits; max 63 — "
            "lower `bits` or split dimensions across two keys"
        )
    quantized = []
    for name, lo, hi in cols:
        if not hi > lo:
            raise ValueError(f"zorder bounds for {name} need hi > lo")
        x = F.col(name).cast("double")
        frac = (
            F.least(F.lit(float(hi)), F.greatest(F.lit(float(lo)), x))
            - F.lit(float(lo))
        ) / F.lit(float(hi) - float(lo))
        quantized.append(
            F.least(
                F.lit((1 << bits) - 1),
                F.floor(frac * F.lit(float(1 << bits))).cast("bigint"),
            )
        )
    key = F.lit(0).cast("bigint")
    for bit in range(bits - 1, -1, -1):
        for ci, q in enumerate(quantized):
            pos = bit * n + (n - 1 - ci)
            key = key.bitwiseOR(
                F.shiftleft(F.shiftright(q, bit).bitwiseAND(F.lit(1)), pos)
            )
    return key


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[tuple[str, float, float]],
    bits: int = 16,
    num_partitions: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Z-order clustered write: range-partition + sort by the Morton
    key so each output file covers a small hyper-rectangle of the
    keyed dimensions — predicates on ANY keyed column skip most files
    via parquet min/max stats (Delta/Iceberg OPTIMIZE ZORDER analog,
    here as a plain write-time layout)."""
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    staged = df.withColumn("_z", zorder_key(cols, bits))
    (
        staged.repartitionByRange(n, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode(mode)
        .parquet(path)
    )
