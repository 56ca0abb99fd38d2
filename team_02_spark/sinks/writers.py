"""Sinks (SURVEY.md §2.1 S3/S6): CSV (with the reference's
content-addressed naming), partitioned parquet (the 100 TB layout),
MongoDB (connector-gated), and the predictions table that replaces the
reference's per-row insert_one loop (src/main.py:150-158).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from team_02_spark.util import commit_next_version, hadoop_fs, list_versions


def write_csv(df: DataFrame, path: str, *, header: bool = True,
              mode: str = "overwrite") -> None:
    """S3: distributed CSV sink (directory of part files — the
    cluster-correct form of the reference's single-file to_csv,
    src/main.py:73)."""
    df.write.mode(mode).option("header", header).csv(path)


def dataset_fingerprint(df: DataFrame, *cols: str) -> str:
    """S4: order-insensitive content fingerprint (reference: md5 of
    CSV bytes as cache key, src/main.py:71 — made partitioning-stable
    by hashing sorted per-row md5s). Single small driver value."""
    use = list(cols) or df.columns
    # Explicit NULL sentinel per column: concat_ws silently SKIPS null
    # inputs, so ('x', NULL) and (NULL, 'x') would hash identically and
    # a distinct dataset could be mistaken for a cache hit.
    encoded = [
        F.coalesce(F.col(c).cast("string"), F.lit("\x00NULL")) for c in use
    ]
    row = (
        df.select(F.md5(F.concat_ws("\x1f", *encoded)).alias("h"))
        .agg(F.md5(F.array_join(F.sort_array(F.collect_list("h")), "")).alias("fp"))
        .first()
    )
    return row["fp"]


def write_csv_content_addressed(df: DataFrame, out_dir: str, *,
                                skip_if_exists: bool = True) -> str:
    """S3+S4: write to ``<out_dir>/<fingerprint>.csv`` — the
    reference's content-addressed cache write (src/main.py:71-73),
    idempotent: an existing fingerprint directory is the cache hit.
    The hit is checked through the Hadoop FileSystem client, so it
    holds for hdfs://, s3a:// and file:// out_dirs too."""
    fp = dataset_fingerprint(df)
    path = os.path.join(out_dir, f"{fp}.csv")
    if skip_if_exists:
        fs, jpath, _ = hadoop_fs(df.sparkSession, path)
        if fs.exists(jpath):
            return path
    write_csv(df, path)
    return path


def write_partitioned_parquet(df: DataFrame, path: str,
                              partition_by: list[str],
                              mode: str = "overwrite") -> None:
    """The 100 TB layout: date/source-partitioned parquet so dynamic
    partition pruning applies to every downstream query."""
    df.write.mode(mode).partitionBy(*partition_by).parquet(path)


def write_predictions(df: DataFrame, path: str) -> None:
    """U9 sink: one row per document, one column per model prediction
    (spec form of the reference's Mongo doc, SURVEY §2.10.2) as
    parquet — the engine-internal equivalent of the Mongo collection."""
    df.write.mode("overwrite").parquet(path)


def write_mongodb(df: DataFrame, *, database: str, collection: str,
                  uri: str = "mongodb://localhost:27017") -> None:
    """S6: Mongo sink via the public Spark-Mongo connector
    (df.write.format('mongodb')) — the distributed replacement for the
    reference's per-row insert_one (src/main.py:158). Raises a clear
    error when the connector jar isn't on the classpath (this
    container)."""
    try:
        (
            df.write.format("mongodb")
            .mode("append")
            .option("connection.uri", uri)
            .option("database", database)
            .option("collection", collection)
            .save()
        )
    except Exception as exc:  # pragma: no cover - connector not in container
        raise RuntimeError(
            "MongoDB sink requires the mongo-spark-connector jar "
            "(--packages org.mongodb.spark:mongo-spark-connector_2.13). "
            "Use write_predictions() for the parquet-table equivalent."
        ) from exc


def compact_parquet(spark, path: str, *, target_file_bytes: int = 128 * 1024 * 1024,
                    out_path: str) -> int:
    """Small-file compaction — the table-maintenance op every parquet
    lake needs: streaming/append sinks accumulate thousands of tiny
    files, and scan parallelism + footer overhead degrade until
    someone rewrites them at a sane target size.

    Sizes the output file count from the ACTUAL on-disk byte size and
    rewrites with a round-robin ``repartition(n)`` (an explicit
    shuffle, which is the point: it rebalances skewed tiny files into
    uniform outputs) to ``out_path`` — callers swap directories; this
    helper never deletes the input.

    The byte census is a driver-side METADATA call through the Hadoop
    FileSystem client — never a data read — so it is scheme-correct on
    hdfs://, s3a://, and file: alike (an os.walk census silently
    returns 0 on any non-local filesystem → repartition(1) → a
    single-file rewrite of the whole table). Raises FileNotFoundError
    on a missing source instead of quietly compacting nothing.

    Returns the number of output files chosen. At cluster scale this
    is the per-partition maintenance job you schedule after each
    ingest window (pair with write_partitioned_parquet and run per
    partition directory, the same cadence as zorder_layout).
    """
    import math

    fs, jpath, _ = hadoop_fs(spark, path)
    if not fs.exists(jpath):
        raise FileNotFoundError(f"compact_parquet: no such dir {path!r}")
    total = fs.getContentSummary(jpath).getLength()
    n_files = max(1, math.ceil(total / target_file_bytes))
    (
        spark.read.parquet(path)
        .repartition(n_files)
        .write.mode("overwrite")
        .parquet(out_path)
    )
    return n_files


def write_jsonl(df: DataFrame, path: str, *, compression: str | None = "gzip") -> None:
    """JSONL export — the lingua franca of LLM training corpora
    (one JSON object per line, gzip by default). Spark's json sink
    writes exactly this shape, one file per partition; pair with
    ``df.repartition(n)`` upstream to control shard count/size."""
    w = df.write.mode("overwrite")
    if compression:
        w = w.option("compression", compression)
    w.json(path)


def read_jsonl(spark, path: str, schema: str | None = None) -> DataFrame:
    """JSONL ingest with an EXPLICIT schema when known: schema-less
    json reads trigger a full inference pre-pass over the data — at
    100 TB that is a second scan of the corpus before the first real
    job. Always pass the schema in production; ``schema=None`` is for
    exploration only."""
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.json(path)


def write_training_shards(df: DataFrame, out_dir: str, *,
                          n_shards: int = 16, id_col: str = "doc_id",
                          order_within_shard: bool = True) -> DataFrame:
    """Execute the q_shard_plan layout: deterministic Knuth-hash shard
    assignment, ONE shuffle keyed on the shard id, one parquet
    directory per shard (shard=NN/), rows inside each shard in
    md5-of-id order when ``order_within_shard`` (so a training run's
    data order is fully reproducible from the layout alone — no
    loader-side shuffle seed to track). Returns the per-shard
    manifest (docs + id bounds) the writer verified after writing.

    At 100 TB: the single repartition(shard) is the only wide
    exchange; per-shard file sizing is then governed by
    maxRecordsPerFile / further repartition within the writer."""
    from team_02_spark.util import knuth_uniform

    # Same gate as q_shard_plan's manifest — shared definition, so
    # the written layout can't drift from the plan.
    shard = F.floor(knuth_uniform(id_col) * n_shards).cast("int").alias("shard")
    assigned = df.withColumn("shard", shard).repartition(n_shards, "shard")
    if order_within_shard:
        assigned = assigned.sortWithinPartitions(F.md5(F.col(id_col).cast("string")))
    assigned.write.mode("overwrite").partitionBy("shard").parquet(out_dir)
    back = df.sparkSession.read.parquet(out_dir)
    return (
        back.groupBy("shard")
        .agg(F.count("*").alias("n_docs"),
             F.min(id_col).alias("min_id"), F.max(id_col).alias("max_id"))
    )


def publish_audited(df: DataFrame, out_dir: str, *,
                    checks: list | None = None) -> str:
    """Write-Audit-Publish: stage, validate, then commit a new version
    (the discipline Iceberg's WAP branches formalize, on plain parquet).

    1. WRITE to a hidden ``{out_dir}/.staging-<uuid>`` dir that holds
       no ``_SUCCESS`` marker;
    2. AUDIT the staged files (what was WRITTEN, not the plan): a check
       is ``fn(staged_df) -> falsy | error-string``; a failure raises
       and keeps the staging dir for post-mortem;
    3. PUBLISH by the engine's one commit rule for versioned datasets
       (``util.commit_next_version``): rename staging to the next
       ``v{n:012d}``, failing if a racing publisher took it, then
       create ``v{n}/_SUCCESS``. The newest committed version is
       current; each commit keeps the newest two.

    The marker follows the rename so that where a dir rename copies
    file by file (s3a) no reader takes a half-copied version as
    committed. That follows from Hadoop's filesystem contract; no test
    covers it, as the suite has no s3a store. All steps go through the
    Hadoop FileSystem client. Returns the published version's path."""
    import uuid as _uuid

    spark = df.sparkSession
    base = out_dir.rstrip("/")
    staging = f"{base}/.staging-{_uuid.uuid4().hex}"
    (
        df.write.mode("errorifexists")
        .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        .parquet(staging)
    )

    staged = spark.read.parquet(staging)
    for check in checks or []:
        problem = check(staged)
        if problem:
            raise ValueError(
                f"publish_audited: audit failed ({problem}); staged "
                f"snapshot kept at {staging} for inspection"
            )
    return commit_next_version(spark, base, staging)


def read_published(spark, out_dir: str) -> DataFrame:
    """Read the newest committed version under ``out_dir`` — the
    reader half of the WAP contract: an uncommitted version (a
    publisher that crashed, or is still between its rename and its
    marker) is skipped, so a reader never sees partial data. Raises
    FileNotFoundError when no version is committed."""
    base = out_dir.rstrip("/")
    _, committed = list_versions(spark, base)
    if not committed:
        raise FileNotFoundError(f"no published snapshot under {out_dir}")
    return spark.read.parquet(f"{base}/{committed[-1]}")
