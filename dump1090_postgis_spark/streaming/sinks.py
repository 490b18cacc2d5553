"""foreachBatch sink builders (SURVEY §2.1 SNK-1).

The reference commits batched SQLAlchemy sessions every second
(flights.py:119-131) and dual-writes positions into a `positions_live`
copy via an insert RULE; here that copy is a view
(operators.retention.positions_live), not a second write.  In Spark the
micro-batch IS the transaction boundary: `foreachBatch` receives
(batch_df, epoch_id) once per trigger.

The writes are NOT idempotent per epoch: `parquet_event_sink` appends,
so an epoch replayed after a crash (the query restarts from the last
committed offsets and re-runs the batch) writes its rows a second
time.  Its `epoch` column makes such duplicates detectable, not
impossible; an exactly-once commit (e.g. one partition per epoch,
overwritten on replay) is not built yet.

`batch_df` is an uncached plan over the incremental query: every
action on it re-executes the whole micro-batch, including the
stateful session operator (its Python handler, state-store load and
commit) and the runway attribution.  A sink that writes more than
one table from it therefore persists the batch first and writes each
table from the cache.

For a real warehouse swap the parquet appends for
`df.write.jdbc(...)` — the structure (per-epoch batching, split by
kind) is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def parquet_event_sink(base_dir: str):
    """SNK-1: split each micro-batch by kind and append to per-table
    parquet directories, tagged with the epoch so a replayed batch's
    duplicates can be audited.

    The two appends read one persisted copy of the batch, so the
    stateful operator upstream runs once per trigger, not once per
    table.  The copy is released even when a write fails, so no
    cached batch outlives its trigger."""

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        tagged = batch_df.withColumn("epoch", F.lit(epoch_id)).persist()
        try:
            events = tagged.filter(F.col("kind").isin("landing", "takeoff"))
            summaries = tagged.filter(F.col("kind") == "flight_summary")
            events.write.mode("append").parquet(f"{base_dir}/events")
            summaries.write.mode("append").parquet(
                f"{base_dir}/flight_summaries"
            )
        finally:
            tagged.unpersist()

    return sink
