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

    <state_dir>/v{batch_id:012d}/   snapshot AFTER applying batch_id
    <state_dir>/_LATEST             pointer file (atomic rename)

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
from team_02_spark.util import hadoop_fs, read_text, write_text

_POINTER = "_LATEST"

# Pointer I/O goes through the Hadoop FileSystem client (hadoop_fs),
# NOT os.path: on a real cluster state_dir is hdfs:///s3a:// and a
# driver-local os.path.exists would silently return False ->
# latest_state None -> the merge folds into an EMPTY base, quietly
# dropping the snapshot.


def _read_pointer(spark, state_dir: str) -> str | None:
    return read_text(spark, state_dir.rstrip("/") + "/" + _POINTER)


def _recover_version(spark, state_dir: str) -> str | None:
    """Crash recovery for a MISSING pointer. _advance_pointer's
    delete→rename pair is not atomic as a unit: a driver crash (or a
    concurrent reader racing the flip) in the gap observes version
    dirs on disk but no ``_LATEST`` — and silently folding into an
    empty base there would drop the whole snapshot while the stream
    stays green (r8 advisor medium). Versions are monotone
    (``v_seed`` first, then ``v{batch_id:012d}``), and a version dir
    is only ever fully written BEFORE the pointer flip begins, so the
    max numbered dir (else ``v_seed``) IS the latest committed state.
    Recovering to it is safe: the streaming checkpoint replays the
    in-flight batch and replacement-semantics upserts are idempotent.
    Returns None only when the state_dir holds no versions at all —
    the single case where an empty base is legitimate."""
    fs, root, _ = hadoop_fs(spark, state_dir.rstrip("/"))
    if not fs.exists(root):
        return None
    numbered, seed = [], False
    for status in fs.listStatus(root):
        name = status.getPath().getName()
        if not status.isDirectory():
            continue
        if name == "v_seed":
            seed = True
        elif name.startswith("v") and name[1:].isdigit():
            numbered.append(name)
    if numbered:
        return max(numbered)  # zero-padded: lexicographic == numeric
    return "v_seed" if seed else None


def _version_key(version: str | None) -> tuple[int, int]:
    """Total order over pointer values: corrupt/absent < v_seed <
    v{n} < v{n+1}. Versions only ever come from our own naming, but a
    torn/garbage pointer must compare LOWEST so a heal overwrites it
    rather than treating it as 'already newer'."""
    if version == "v_seed":
        return (0, 0)
    if version and version.startswith("v") and version[1:].isdigit():
        return (1, int(version[1:]))
    return (-1, 0)


def latest_state(spark, state_dir: str) -> DataFrame | None:
    """Read the snapshot the pointer file names, or None before the
    first batch lands. A missing pointer with versions on disk is the
    pointer-flip crash window, not an empty state: recover to the max
    version (see :func:`_recover_version`) and heal the pointer. The
    heal is MONOTONE (r9 advisor medium): a reader that recovered vN,
    stalled while the writer committed vN+1, must not drag the pointer
    backward — _advance_pointer(monotone=True) yields to any pointer
    >= vN and returns the effective (possibly newer) version to read."""
    version = _read_pointer(spark, state_dir)
    if not version:
        version = _recover_version(spark, state_dir)
        if not version:
            return None
        version = _advance_pointer(
            spark, state_dir, version, monotone=True
        ) or version
    return spark.read.parquet(state_dir.rstrip("/") + "/" + version)


def _advance_pointer(spark, state_dir: str, version: str, *,
                     monotone: bool = False) -> str | None:
    """Flip the pointer to ``version`` via temp-file + rename (atomic
    on HDFS and posix; the strongest primitive plain filesystems
    offer): readers never observe a torn pointer. The tmp name embeds
    the version so a healing reader and the flipping writer never
    clobber each other's payload mid-write.

    ``monotone=True`` is the HEAL path (crash/gap recovery from
    latest_state): the pointer must never move backward, so it (a)
    yields if the current pointer already names a version >= ours and
    (b) deletes an existing pointer only when it is STRICTLY OLDER
    than the version being healed (a stale heal that landed in a
    crash gap) — forward-only by construction, since our snapshot dir
    is already on disk and any reader hitting the momentary gap
    recovers to disk-max >= ours. Whether
    rename-onto-existing FAILS (HDFS, S3A, and the checksum-wrapped
    LocalFileSystem this stack observes) or silently REPLACES (raw
    POSIX rename(2), which some Hadoop local-FS paths map to) is
    filesystem- and version-dependent — and under replace semantics a
    writer flipping to vN+1 between the pointer check and our rename
    would be dragged back (r10 advisor low). The heal therefore no
    longer depends on which semantics hold: after a successful rename
    it RE-SCANS the version log and re-heals forward if a newer
    snapshot exists. The writer always commits the snapshot dir
    before flipping, so any flip we could have clobbered is visible
    as an on-disk version > ours; each re-heal targets a strictly
    greater version, so the pointer converges forward on every
    filesystem (under fail semantics the re-heal simply loses the
    rename and yields to the pointer the writer lands — also
    forward). Returns the effective pointer value (ours, or the newer
    one that won).

    The writer path keeps delete->rename and stays loud: Hadoop rename
    signals failure by RETURN VALUE, not exception, and a pointer left
    silently behind would drop every later batch's changes. A failure
    is benign only when the observed pointer is already >= ours (a
    concurrent heal landed the same version — a heal can never exceed
    the single writer, so '>' means a second writer, still forward)."""
    base = state_dir.rstrip("/")
    fs, ptr, jvm = hadoop_fs(spark, base + "/" + _POINTER)
    tmp_path = base + "/" + _POINTER + ".tmp." + version
    write_text(spark, tmp_path, version)
    tmp = jvm.org.apache.hadoop.fs.Path(tmp_path)
    if monotone:
        for _ in range(3):
            current = _read_pointer(spark, state_dir)
            if current and _version_key(current) >= _version_key(version):
                fs.delete(tmp, False)
                return current
            if current:
                # A pointer STRICTLY OLDER than ours blocks the rename
                # under fail-on-existing semantics (it can only arise
                # from a stale heal that landed in a crash gap — e.g. a
                # reader that recovered vN long ago waking up after the
                # writer died mid-flip to vN+1). Deleting it is safe
                # and forward-only: our version's snapshot dir is
                # already on disk, so any reader hitting the momentary
                # gap recovers to disk-max >= ours > the stale value.
                fs.delete(ptr, False)
            if fs.rename(tmp, ptr):
                # Replace-semantics guard (see docstring): this rename
                # may have REPLACED a concurrent writer's newer flip.
                # The writer commits its snapshot dir before flipping,
                # so any clobbered flip shows up as an on-disk version
                # > ours — re-heal forward to it. Each recursion
                # targets a strictly greater version, so it terminates.
                newest = _recover_version(spark, state_dir)
                if newest and _version_key(newest) > _version_key(version):
                    return _advance_pointer(
                        spark, state_dir, newest, monotone=True
                    ) or newest
                return version
            # rename lost a race — someone else flipped first; loop to
            # re-read: whatever landed is either >= ours (yield) or a
            # stale heal (delete-and-retry above)
        fs.delete(tmp, False)
        return _read_pointer(spark, state_dir) or version
    if fs.exists(ptr):
        fs.delete(ptr, False)
    if not fs.rename(tmp, ptr):
        current = _read_pointer(spark, state_dir)
        if current is None or _version_key(current) < _version_key(version):
            raise OSError(
                f"CDC pointer flip to {version!r} failed in {state_dir!r}"
            )
        fs.delete(tmp, False)
        return current
    return version


def seed_state(base: DataFrame, state_dir: str) -> None:
    """Install the initial snapshot (the state CDC batches fold into)."""
    base.write.mode("overwrite").parquet(state_dir.rstrip("/") + "/v_seed")
    _advance_pointer(base.sparkSession, state_dir, "v_seed")


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
    the batch to last-op-per-key, merge into the current snapshot via
    the shared upsert operator (D rows tombstone, U/I rows replace or
    insert), write the result to a batch-keyed dir with overwrite
    (replay rewrites the same dir), then atomically advance the
    pointer. Idempotent by the replacement contract above."""
    spark = batch.sparkSession
    updates = _collapsed_updates(batch, key, seq_col, op_col)
    base = latest_state(spark, state_dir)
    if base is None:
        base = spark.createDataFrame([], updates.drop("__tombstone").schema)
    merged = upsert(
        base, updates, key,
        tombstone_col="__tombstone", broadcast_updates=False,
    )
    version = f"v{batch_id:012d}"
    merged.write.mode("overwrite").parquet(
        state_dir.rstrip("/") + "/" + version
    )
    _advance_pointer(spark, state_dir, version)


# ------------------------------------------------ bucketed state path
#
# The 100 TB variant (r8 verdict #5): the plain merge above re-shuffles
# the WHOLE snapshot every micro-batch (full outer can't broadcast).
# Here state lives as a catalog table bucketed by the key; each batch
# runs operators.upsert.upsert_bucketed — the update batch is written
# co-bucketed, the full-outer merge plans ZERO Exchange on the snapshot
# side, and the merged output is written bucketed again, so batch N+1
# inherits the layout: the snapshot exchange is paid exactly once, at
# seed time. Versioning: table `{prefix}_v{batch_id+1:012d}` holds the
# state AFTER batch_id; the seed is `{prefix}_v000000000000` (the +1
# offset keeps seed < every batch under the zero-padded lexicographic
# order, so the CATALOG ITSELF is the pointer — no separate pointer
# file, hence no pointer-flip crash window at all). Replays are safe
# the same way the parquet path is: batch N's base is the max version
# <= N (never its own output), and its overwrite of v{N+1} reproduces
# identical state by the replacement contract.


def _bucketed_versions(spark, prefix: str) -> list[str]:
    rows = spark.sql(f"SHOW TABLES LIKE '{prefix}_v*'").collect()
    return sorted(
        r["tableName"] for r in rows
        if r["tableName"].rsplit("_v", 1)[-1].isdigit()
    )


def latest_state_bucketed(spark, prefix: str) -> DataFrame | None:
    """Current snapshot = the max committed version table."""
    versions = _bucketed_versions(spark, prefix)
    return spark.table(versions[-1]) if versions else None


def seed_state_bucketed(base: DataFrame, prefix: str, key: str, *,
                        num_buckets: int = 16) -> None:
    """Install the initial snapshot as version 0, bucketed by the key
    — the one full-snapshot exchange this state ever pays."""
    from team_02_spark.operators.scale import write_bucketed

    write_bucketed(base, f"{prefix}_v{0:012d}", key,
                   num_buckets=num_buckets)


def apply_cdc_batch_bucketed(batch: DataFrame, batch_id: int, *,
                             state_prefix: str, key: str, seq_col: str,
                             op_col: str = "op", num_buckets: int = 16,
                             keep_versions: int = 2,
                             plan_sink: list | None = None) -> None:
    """The foreachBatch body for bucketed state (callable directly in
    tests). Base resolution is replay-safe: max version with index
    <= batch_id (a replayed batch never reads its own output — which
    upsert_bucketed would reject as an in-place overwrite anyway).
    ``keep_versions`` prunes versions older than the newest N after a
    successful write; N>=2 keeps the replay base alive (foreachBatch
    replays at most the one in-flight batch). ``plan_sink`` (tests)
    collects each batch's merge plan so the zero-Exchange claim is
    pinned per batch, not just for one standalone merge."""
    from team_02_spark.operators.upsert import upsert_bucketed

    if keep_versions < 2:
        # keep_versions=1 would prune the replay base: a replayed
        # batch would then resolve base == its own output and fail
        # (or, worse in a future refactor, fold into the wrong state).
        raise ValueError(
            "keep_versions must be >= 2 — foreachBatch replays the "
            "in-flight batch, whose base is the PREVIOUS version"
        )
    spark = batch.sparkSession
    updates = _collapsed_updates(batch, key, seq_col, op_col)
    versions = _bucketed_versions(spark, state_prefix)
    if not versions:
        raise RuntimeError(
            f"bucketed CDC state {state_prefix!r} has no seed — call "
            "seed_state_bucketed before starting the stream"
        )
    out = f"{state_prefix}_v{batch_id + 1:012d}"
    eligible = [v for v in versions if v <= out and v != out]
    base = eligible[-1] if eligible else versions[0]
    upsert_bucketed(
        spark, base, updates, key, out, num_buckets=num_buckets,
        tombstone_col="__tombstone", plan_sink=plan_sink,
    )
    stale = _bucketed_versions(spark, state_prefix)[:-keep_versions]
    for v in stale:
        spark.sql(f"DROP TABLE IF EXISTS {v}")


def cdc_upsert_stream_bucketed(changes: DataFrame, *, state_prefix: str,
                               key: str, seq_col: str, op_col: str = "op",
                               checkpoint_dir: str, num_buckets: int = 16,
                               keep_versions: int = 2,
                               plan_sink: list | None = None):
    """Wire a change-feed stream into the bucketed-state snapshot sink
    (same contract as cdc_upsert_stream; state as co-bucketed catalog
    tables instead of parquet dirs + pointer file)."""

    def _apply(batch_df, batch_id):
        apply_cdc_batch_bucketed(
            batch_df, batch_id, state_prefix=state_prefix, key=key,
            seq_col=seq_col, op_col=op_col, num_buckets=num_buckets,
            keep_versions=keep_versions, plan_sink=plan_sink,
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
