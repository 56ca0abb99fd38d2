"""Storage-layout lanes: a sink writes the table in some physical
layout, a scan reads it back, and the result must equal the source —
ORC round trip, Hive-partitioned write with a partition-pruned read,
Z-order (Morton) clustering with a 2-D range scan, and small-files
compaction. Each oracle reads the ORIGINAL table, so any row a layout
job loses or duplicates hash-mismatches. Scratch dirs are
per-application (``run_dir``), so re-runs and concurrent sessions
never collide.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from team_02_spark.queries.registry import query
from team_02_spark.queries._util import run_dir, t


@query(
    "q_orc_roundtrip",
    oracle="SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders",
)
def q_orc_roundtrip(spark, sf_dir):
    """S-format breadth: ORC sink -> schema'd ORC scan round-trip —
    the third columnar format next to parquet (native) and the text
    formats (CSV/JSONL/XML lanes). Oracle = the source projection:
    ORC stores doubles/longs natively, so the round trip is exact."""
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    out = run_dir(spark, "orc_roundtrip")
    orders.write.mode("overwrite").orc(out)
    return (
        spark.read.schema(
            "o_orderkey long, o_orderpriority string, o_totalprice double"
        ).orc(out)
    )


@query(
    "q_partition_pruning",
    oracle="""
    SELECT event_id, user_id, value FROM events
    WHERE event_type = 'purchase'
    """,
)
def q_partition_pruning(spark, sf_dir):
    """Hive-style partitioned layout + partition-pruned scan: write
    events partitioned by event_type, read back ONLY the 'purchase'
    directory — the scan's PartitionFilters prune 4/5 of the data
    before any I/O (the layout pattern that makes 100 TB tables
    queryable; tests/test_plans pins the PartitionFilters entry).
    The partition column is dropped on output (it is constant)."""
    ev = t(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", "event_type"
    )
    out = run_dir(spark, "part_prune")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
    return (
        spark.read.schema(
            "event_id long, user_id long, value double, event_type string"
        )  # explicit schema: robust to an all-pruned (or empty) layout
        .parquet(out)
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "value")
    )


@query(
    "q_zorder_scan",
    oracle="""
    SELECT l_orderkey, l_partkey, l_suppkey, l_quantity
    FROM lineitem
    WHERE l_partkey BETWEEN 10 AND 50 AND l_suppkey BETWEEN 2 AND 5
    """,
)
def q_zorder_scan(spark, sf_dir):
    """Z-order (Morton-curve) layout + multi-dimensional range scan:
    lineitem rewritten clustered on interleaved (l_partkey, l_suppkey)
    bits, then a 2-D range predicate reads it back — with the z-curve
    layout, parquet min/max footer stats are tight on BOTH dimensions,
    so either predicate alone prunes row groups (a plain ORDER BY
    layout only skips on its leading key). Oracle = the same predicate
    on the source: the layout job must be a pure reshuffle."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
    )
    out = run_dir(spark, "zorder_scan")
    from team_02_spark.operators.scale import zorder_layout

    zorder_layout(li, ["l_partkey", "l_suppkey"], out, n_files=8)
    return (
        spark.read.parquet(out)
        .filter(
            F.col("l_partkey").between(10, 50)
            & F.col("l_suppkey").between(2, 5)
        )
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    )


@query(
    "q_compact_files",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(MIN(doc_id) AS BIGINT) AS min_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_id,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
    FROM documents
    """,
)
def q_compact_files(spark, sf_dir):
    """Small-files compaction round trip: fragment the documents
    table into 64 shard files (the streaming-micro-batch pathology),
    run sinks.writers.compact_parquet to rewrite it at a target
    file size, and prove the compacted copy is byte-equivalent by
    auditing it against the source's own aggregate — the oracle reads
    the ORIGINAL table, so any row lost or duplicated in the
    fragment→compact→scan cycle hash-mismatches. Scratch dirs are
    per-application (run_dir). The test layer additionally pins that
    the file count actually shrank."""
    from team_02_spark.sinks.writers import compact_parquet

    docs = t(spark, sf_dir, "documents")
    frag = run_dir(spark, "compact_src")
    out = run_dir(spark, "compact_dst")
    docs.repartition(64).write.mode("overwrite").parquet(frag)
    compact_parquet(spark, frag, out_path=out, target_file_bytes=64 << 20)
    back = spark.read.parquet(out)
    return back.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.min("doc_id").cast("bigint").alias("min_id"),
        F.max("doc_id").cast("bigint").alias("max_id"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
    )
