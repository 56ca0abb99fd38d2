"""Streaming sinks: checkpointed parquet landing (the durable pattern
every production stream ends in) and foreachBatch adapters that reuse
the engine's BATCH sinks inside a stream — the unified-API story in
the write direction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from team_02_spark.util import hadoop_fs


def stream_to_parquet(df: DataFrame, path: str, checkpoint: str, *,
                      trigger_available_now: bool = True) -> StreamingQuery:
    """Append-mode parquet sink with a checkpoint — exactly-once file
    output; restart-safe (offsets + file-commit log live in the
    checkpoint)."""
    writer = (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_foreach_batch(df: DataFrame, batch_fn, checkpoint: str, *,
                         output_mode: str = "update",
                         trigger_available_now: bool = True) -> StreamingQuery:
    """Route a stream through an arbitrary batch-sink function
    ``batch_fn(batch_df, batch_id)`` — the bridge that lets every
    batch sink in sinks/ (content-addressed CSV, predictions table,
    Mongo) terminate a stream without a streaming-native connector."""
    writer = (
        df.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def materialized_aggregate(stream_df, agg_fn, snapshot_path: str,
                           checkpoint: str):
    """Streaming materialized view: per micro-batch, write
    ``agg_fn(batch_df)`` over the parquet snapshot — the
    incremental-refresh pattern for dashboards over streams.

    The stream runs in complete mode, so every micro-batch already is
    the full aggregate over all data seen: one overwrite per batch is
    the whole refresh, and the snapshot converges to the batch
    aggregation. A replayed batch rewrites the same result.
    """

    def refresh(batch_df, _batch_id):
        agg_fn(batch_df).write.mode("overwrite").parquet(snapshot_path)

    return (
        stream_df.writeStream.outputMode("complete")
        .foreachBatch(refresh)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def idempotent_foreach_batch(batch_fn, commit_dir: str):
    """Exactly-once side effects under micro-batch replay: wrap a
    ``batch_fn(batch_df, batch_id)`` with a batch-id commit log so a
    RETRIED micro-batch (failure after the side effect but before the
    checkpoint advanced — Structured Streaming's at-least-once window
    for foreachBatch sinks) is a no-op instead of a duplicate write.

    The marker is written AFTER the side effect completes, mirroring
    how transactional sinks commit: crash before marker → replay
    redoes the work (sink must tolerate its own partial output, e.g.
    overwrite-by-batch-path); crash after → replay skips. On a real
    cluster the commit dir lives on the object store next to the
    checkpoint, so markers are checked and written through the Hadoop
    FileSystem client: a restarted driver sees them under any scheme.
    """

    def fn(batch_df, batch_id):
        fs, marker, _ = hadoop_fs(
            batch_df.sparkSession,
            commit_dir.rstrip("/") + f"/{batch_id}.committed",
        )
        if fs.exists(marker):
            return
        batch_fn(batch_df, batch_id)
        fs.create(marker, True).close()  # creates missing parent dirs

    return fn
