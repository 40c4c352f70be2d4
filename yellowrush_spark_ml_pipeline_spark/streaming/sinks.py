"""Streaming sinks (SURVEY.md §2.12 extension surface).

``foreachBatch`` is the production sink pattern: each micro-batch arrives
as a BATCH DataFrame, so every batch writer in the engine (plain /
partitioned / bucketed parquet, JDBC, upserts) works unchanged on a
stream. With checkpointing, Spark re-runs an interrupted epoch and the
writer sees the same (batch_df, epoch_id) — idempotent writers (overwrite
per epoch partition, MERGE on key) give end-to-end exactly-once.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery


def stream_to_parquet(
    stream_df: DataFrame,
    output_path: str,
    checkpoint_path: str,
    partition_cols: list[str] | None = None,
    transform: Callable[[DataFrame], DataFrame] | None = None,
) -> StreamingQuery:
    """Land a stream as parquet through foreachBatch: the batch writer
    handles layout (optional hive partitioning), the checkpoint makes
    epochs replayable.  The query runs with ``availableNow``: it drains
    the input present at start, then stops. ``transform`` runs per
    batch — the hook for the engine's batch operators inside a stream."""

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        out = transform(batch_df) if transform else batch_df
        writer = out.write.mode("append")
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        writer.parquet(output_path)

    return (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
