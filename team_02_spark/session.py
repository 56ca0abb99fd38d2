"""SparkSession factory with scale-oriented defaults.

The engine never constructs sessions ad hoc: every entry point funnels
through :func:`get_spark` so AQE, Arrow, and shuffle sizing are uniform.
On a real cluster the same builder is used with ``master`` unset (taken
from spark-submit); locally it defaults to ``local[N]``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults are sized for the local test harness (local[32], 128 GiB).
# On a 1000-executor cluster the same configs apply except
# shuffle.partitions, which AQE coalesces from an intentionally high
# initial number — so we set a high initialPartitionNum and let AQE
# shrink it, instead of hand-tuning per job.
_DEFAULTS = {
    # Adaptive execution: runtime re-planning, skew-join splitting,
    # partition coalescing — the core 100 TB posture.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas_udf / toPandas crossing.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Broadcast small dimension tables automatically (dims here are
    # region/nation/supplier/part — all tiny relative to fact tables).
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Session timezone pinned to UTC so timestamp semantics match the
    # DuckDB oracle regardless of host timezone.
    "spark.sql.session.timeZone": "UTC",
    # Split large files at 128 MB so scan parallelism tracks data
    # volume; a one-split file in front of a gram-join or vector
    # kernel is widened by util.ensure_parallelism.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # Read timestamps at the precision parquet declares.
    "spark.sql.parquet.int96RebaseModeInRead": "CORRECTED",
    "spark.sql.ui.enabled": "false",
    # Generated-class cache sized to the engine's working set, so a
    # warm pass reuses its whole-stage-codegen classes instead of
    # recompiling them (and the JIT re-compiling their bytecode).
    # Spark's default of 100 entries is below the working set of every
    # workload measured (4 cores, SCALING.md "Generated-class cache
    # working set"): a perfbench llm_sql_ingest pass (8 keys) compiles
    # ~160 classes and, at 100 entries, recompiled 156 of them on every
    # warm pass; the 51 headline keys at sf0.01 compile ~1 060 and
    # recompiled 1 387 on a second round. Rule: about 4x the largest
    # measured working set. A generated class averages 2.6 KB of
    # bytecode (max 21 KB), so 4096 retained classes cost at most tens
    # of MB of metaspace. Static conf; the cache key is the exact
    # generated source, so a hit runs the same class and cannot change
    # an answer.
    "spark.sql.codegen.cache.maxEntries": "4096",
}


def get_spark(app_name: str = "team_02_spark", master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when not running
    under a cluster manager. ``shuffle_partitions`` defaults to the core
    count locally; on a cluster leave it None and let AQE coalesce.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{cpus}]")
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or int(cpus))
    conf["spark.driver.memory"] = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def codegen_compilations(spark: SparkSession) -> int:
    """Whole-stage-codegen classes compiled so far in this session's JVM.

    Janino compiles a class only on a generated-class cache miss, so the
    growth of this count over a warm run is the codegen that run paid
    again.
    """
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()
