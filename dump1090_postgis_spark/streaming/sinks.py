"""foreachBatch sink builders (SURVEY §2.1 SNK-1).

The reference commits batched SQLAlchemy sessions every second
(flights.py:119-131) and dual-writes positions into a `positions_live`
copy via an insert RULE; here that copy is a view
(operators.retention.positions_live), not a second write.  In Spark the
micro-batch IS the transaction boundary: `foreachBatch` receives
(batch_df, epoch_id) once per trigger.

The writes are idempotent per epoch: `parquet_event_sink` overwrites
`events/epoch=<N>/` and `flight_summaries/epoch=<N>/`, so an epoch
replayed after a crash (the query restarts from the last committed
offsets and re-runs the batch) replaces its first run's rows.  The
`epoch` column stays inside the files for readers that do not parse
directory names (`pyarrow.dataset` without hive partitioning).

`batch_df` is an uncached plan over the incremental query: every
action on it re-executes the whole micro-batch, including the
stateful session operator (its Python handler, state-store load and
commit) and the runway attribution.  A sink that writes more than
one table from it therefore persists the batch first and writes each
table from the cache.

For a real warehouse swap the parquet writes for a
`df.write.jdbc(...)` that first deletes the epoch's rows — the
structure (per-epoch batching, split by kind) is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def parquet_event_sink(base_dir: str):
    """SNK-1: split each micro-batch by kind and overwrite one
    directory per epoch and table, tagged with the epoch.

    The two writes read one persisted copy of the batch, so the
    stateful operator upstream runs once per trigger, not once per
    table.  The copy is released even when a write fails, so no
    cached batch outlives its trigger."""

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        tagged = batch_df.withColumn("epoch", F.lit(epoch_id)).persist()
        try:
            events = tagged.filter(F.col("kind").isin("landing", "takeoff"))
            summaries = tagged.filter(F.col("kind") == "flight_summary")
            events.write.mode("overwrite").parquet(
                f"{base_dir}/events/epoch={epoch_id}"
            )
            summaries.write.mode("overwrite").parquet(
                f"{base_dir}/flight_summaries/epoch={epoch_id}"
            )
        finally:
            tagged.unpersist()

    return sink
