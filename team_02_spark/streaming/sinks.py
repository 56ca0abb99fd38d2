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
                           checkpoint: str, key: str):
    """Streaming materialized view: per micro-batch, aggregate the
    batch and MERGE it into a parquet snapshot (operators/upsert) —
    the incremental-refresh pattern for dashboards over streams.

    ``agg_fn(batch_df) -> DataFrame`` must emit one row per ``key``.
    Complete-mode output feeds the merge, so the snapshot converges to
    the same result as a batch aggregation over all data seen.
    """
    import os

    from team_02_spark.operators.upsert import upsert

    def refresh(_batch_df, _batch_id):
        spark = _batch_df.sparkSession
        aggregated = agg_fn(_batch_df)
        if os.path.exists(snapshot_path):
            base = spark.read.parquet(snapshot_path)
            merged = upsert(base, aggregated, key)
        else:
            merged = aggregated
        # write via temp + atomic-ish swap (overwrite) — local-mode
        # stand-in for a transactional table format commit
        merged.write.mode("overwrite").parquet(snapshot_path + ".tmp")
        final = spark.read.parquet(snapshot_path + ".tmp")
        final.write.mode("overwrite").parquet(snapshot_path)
        return None

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
