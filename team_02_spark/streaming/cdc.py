"""Streaming CDC apply — a Debezium-style change feed folded into a
parquet snapshot through ``foreachBatch`` idempotent upserts (the
exactly-once sink pattern the engine demonstrates here; r7 verdict
#5). The batch twin is `q_cdc_apply` (queries/streaming_queries.py) /
`operators.upsert.upsert`; this module drives the SAME merge from a
`readStream`, so CDC runs in both modes like every other curation
stage.

Contract that makes replays safe: change rows carry the FULL
replacement payload (op 'U' = replace, 'I' = insert, 'D' =
tombstone), never deltas — so re-applying a micro-batch after a
failure/restart reproduces the identical state (replace twice =
replace once, delete twice = delete once). Structured Streaming's
foreachBatch guarantees at-least-once with a stable ``batch_id``;
idempotent-by-replacement + overwrite-to-a-batch-keyed-dir upgrades
that to effectively-exactly-once.

State layout (plain parquet — no transactional format needed):

    <state_dir>/v000000000000/      the seed snapshot
    <state_dir>/v{batch_id+1:012d}/ snapshot AFTER applying batch_id

The state follows the engine's one commit rule for versioned datasets
(``util.list_versions``): the newest COMMITTED version is the state.
Here Spark's file committer writes the commit marker last, and an
overwrite deletes the old dir before rewriting it, so a torn write is
simply not a version. Batch N folds into the newest committed version
older than its own output, so a replayed batch never reads what it
overwrites; each commit keeps the head and the replay base.

At 100 TB each micro-batch costs one full-outer join of snapshot x
batch plus a snapshot rewrite. Full outer can't broadcast, so the
PLAIN merge re-shuffles the whole snapshot per batch — for large
state use `operators.upsert.upsert_bucketed` inside the foreachBatch
body instead: snapshot and batch co-bucketed by the key, the merge
plans ZERO Exchange on the snapshot side (pinned by test), and the
bucketed output hands the next batch the same layout. A transactional
table format would additionally give row-level merges; this module's
batching/ordering/idempotency logic is unchanged either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from team_02_spark.operators.upsert import upsert
from team_02_spark.util import VERSIONS_KEPT, list_versions, prune_versions, version_name


def _base_version(committed: list[str], out: str, where: str) -> str:
    """The version the batch writing ``out`` folds into: the newest
    committed version older than its own output (both paths name
    versions so that string order is version order)."""
    older = [v for v in committed if v < out]
    if not older:
        raise RuntimeError(
            f"CDC state {where!r} has no committed version older than "
            f"{out!r} — seed it first; only the in-flight batch replays"
        )
    return older[-1]


def _committed(spark, root: str) -> list[str]:
    """Committed parquet versions under ``root``, oldest first. Version
    dirs with none committed raise rather than read as empty state —
    also what a writer with ``marksuccessfuljobs=false`` leaves."""
    dirs, committed = list_versions(spark, root)
    if dirs and not committed:
        raise RuntimeError(
            f"CDC state {root!r} holds version dirs {dirs} but none "
            "is committed (no commit marker)"
        )
    return committed


def latest_state(spark, state_dir: str) -> DataFrame | None:
    """The newest committed snapshot, or None when ``state_dir`` holds
    no version dirs at all."""
    root = state_dir.rstrip("/")
    committed = _committed(spark, root)
    return spark.read.parquet(root + "/" + committed[-1]) if committed else None


def seed_state(base: DataFrame, state_dir: str) -> None:
    """Install the initial snapshot (the state CDC batches fold into)."""
    base.write.mode("overwrite").parquet(
        state_dir.rstrip("/") + "/" + version_name(0)
    )


def collapse_to_last_op(changes: DataFrame, key: str, seq_col: str) -> DataFrame:
    """Within one micro-batch a key may appear several times (U then
    D, I then U, ...); only the LAST op by the feed's sequence column
    may reach the merge — applying intermediate ops would expose
    states that never existed at any feed position. One row_number
    window on (key | desc seq), the standard CDC compaction."""
    w = Window.partitionBy(key).orderBy(F.desc(seq_col))
    return (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _collapsed_updates(batch: DataFrame, key: str, seq_col: str,
                       op_col: str) -> DataFrame:
    """Shared micro-batch preamble: collapse to last-op-per-key, strip
    the feed bookkeeping columns, mark D rows as tombstones."""
    last = collapse_to_last_op(batch, key, seq_col)
    payload_cols = [c for c in last.columns if c not in (op_col, seq_col)]
    return last.select(
        *payload_cols,
        (F.col(op_col) == "D").alias("__tombstone"),
    )


def apply_cdc_batch(batch: DataFrame, batch_id: int, *, state_dir: str,
                    key: str, seq_col: str, op_col: str = "op") -> None:
    """The foreachBatch body (callable directly in tests): collapse
    the batch to last-op-per-key, merge it into its base version via
    the shared upsert operator (D rows tombstone, U/I rows replace or
    insert), write the result to ``v{batch_id+1}`` with overwrite
    (replay rewrites the same dir), then drop all but the newest
    versions. Idempotent by the replacement contract above."""
    spark = batch.sparkSession
    root = state_dir.rstrip("/")
    updates = _collapsed_updates(batch, key, seq_col, op_col)
    out = version_name(batch_id + 1)
    base = spark.read.parquet(
        root + "/" + _base_version(_committed(spark, root), out, root)
    )
    merged = upsert(
        base, updates, key,
        tombstone_col="__tombstone", broadcast_updates=False,
    )
    merged.write.mode("overwrite").parquet(root + "/" + out)
    prune_versions(spark, root)


# ------------------------------------------------ bucketed state path
#
# The 100 TB variant (r8 verdict #5): the plain merge above re-shuffles
# the WHOLE snapshot every micro-batch (full outer can't broadcast).
# Here state lives as a catalog table bucketed by the key; each batch
# runs operators.upsert.upsert_bucketed — the update batch is written
# co-bucketed, the full-outer merge plans ZERO Exchange on the snapshot
# side, and the merged output is written bucketed again, so batch N+1
# inherits the layout: the snapshot exchange is paid exactly once, at
# seed time. Versioning and the commit rule are the parquet path's,
# with tables `{prefix}_v{n:012d}` in place of dirs and the catalog
# listing in place of commit markers.


def _bucketed_versions(spark, prefix: str) -> list[str]:
    rows = spark.sql(f"SHOW TABLES LIKE '{prefix}_v*'").collect()
    return sorted(
        r["tableName"] for r in rows
        if r["tableName"].rsplit("_v", 1)[-1].isdigit()
    )


def latest_state_bucketed(spark, prefix: str) -> DataFrame | None:
    """Current snapshot = the newest version table."""
    versions = _bucketed_versions(spark, prefix)
    return spark.table(versions[-1]) if versions else None


def seed_state_bucketed(base: DataFrame, prefix: str, key: str, *,
                        num_buckets: int = 16) -> None:
    """Install the initial snapshot as version 0, bucketed by the key
    — the one full-snapshot exchange this state ever pays."""
    from team_02_spark.operators.scale import write_bucketed

    write_bucketed(base, f"{prefix}_{version_name(0)}", key,
                   num_buckets=num_buckets)


def apply_cdc_batch_bucketed(batch: DataFrame, batch_id: int, *,
                             state_prefix: str, key: str, seq_col: str,
                             op_col: str = "op", num_buckets: int = 16,
                             plan_sink: list | None = None) -> None:
    """The foreachBatch body for bucketed state (callable directly in
    tests), with the parquet path's base and retention rules.
    ``plan_sink`` (tests) collects each batch's merge plan so the
    zero-Exchange claim is pinned per batch, not just for one
    standalone merge."""
    from team_02_spark.operators.upsert import upsert_bucketed

    spark = batch.sparkSession
    updates = _collapsed_updates(batch, key, seq_col, op_col)
    out = f"{state_prefix}_{version_name(batch_id + 1)}"
    base = _base_version(
        _bucketed_versions(spark, state_prefix), out, state_prefix
    )
    upsert_bucketed(
        spark, base, updates, key, out, num_buckets=num_buckets,
        tombstone_col="__tombstone", plan_sink=plan_sink,
    )
    for v in _bucketed_versions(spark, state_prefix)[:-VERSIONS_KEPT]:
        spark.sql(f"DROP TABLE IF EXISTS {v}")


def cdc_upsert_stream_bucketed(changes: DataFrame, *, state_prefix: str,
                               key: str, seq_col: str, op_col: str = "op",
                               checkpoint_dir: str, num_buckets: int = 16,
                               plan_sink: list | None = None):
    """Wire a change-feed stream into the bucketed-state snapshot sink
    (same contract as cdc_upsert_stream; state as co-bucketed catalog
    tables instead of parquet dirs)."""

    def _apply(batch_df, batch_id):
        apply_cdc_batch_bucketed(
            batch_df, batch_id, state_prefix=state_prefix, key=key,
            seq_col=seq_col, op_col=op_col, num_buckets=num_buckets,
            plan_sink=plan_sink,
        )

    return (
        changes.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def cdc_upsert_stream(changes: DataFrame, *, state_dir: str, key: str,
                      seq_col: str, op_col: str = "op",
                      checkpoint_dir: str):
    """Wire a change-feed stream into the idempotent snapshot sink.
    Returns the started StreamingQuery; the caller picks the trigger
    semantics by awaiting it (tests use bounded file feeds +
    trigger(availableNow) drained by awaitTermination)."""

    def _apply(batch_df, batch_id):
        apply_cdc_batch(batch_df, batch_id, state_dir=state_dir,
                        key=key, seq_col=seq_col, op_col=op_col)

    return (
        changes.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
