"""The 100 TB storage layout in miniature: partitioned parquet writes,
static partition pruning (PartitionFilters at the scan), and dynamic
partition pruning through a filtered dimension join — the properties
that make a date/source-partitioned lake queryable at scale.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from team_02_spark.plans.inspect import explain_str
from team_02_spark.sinks import write_partitioned_parquet
from team_02_spark.sources import load_table
from tests.conftest import SF_SMOKE


def test_partitioned_write_and_static_pruning(spark, tmp_path):
    li = load_table(spark, SF_SMOKE, "lineitem")
    out = str(tmp_path / "li_part")
    write_partitioned_parquet(li, out, ["l_returnflag"])

    back = spark.read.parquet(out)
    assert back.count() == li.count()

    pruned = back.filter(F.col("l_returnflag") == "R")
    text = explain_str(pruned)
    m = re.search(r"PartitionFilters: \[(.*)\]", text)
    assert m and "l_returnflag" in m.group(1), "filter did not reach PartitionFilters"
    assert pruned.count() == li.filter(F.col("l_returnflag") == "R").count()


def test_dynamic_partition_pruning(spark, tmp_path):
    """DPP: a filter on the DIM side prunes fact partitions at runtime
    (the subquery-shaped dynamicpruning expression in the scan)."""
    orders = load_table(spark, SF_SMOKE, "orders")
    out = str(tmp_path / "orders_by_status")
    write_partitioned_parquet(orders, out, ["o_orderstatus"])
    fact = spark.read.parquet(out)

    dim = spark.createDataFrame(
        [("F", "finished")], "o_orderstatus string, label string"
    )
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    # disable broadcast so DPP (not broadcast-join reuse) must carry the prune
    joined = fact.join(dim, "o_orderstatus").select("o_orderkey", "label")
    text = explain_str(joined)
    assert "dynamicpruning" in text.lower() or "PartitionFilters: [isnotnull(o_orderstatus" in text
    n_f = orders.filter(F.col("o_orderstatus") == "F").count()
    assert joined.count() == n_f


def test_compact_parquet_small_files(spark, tmp_path):
    """Compaction sizes outputs from on-disk bytes, preserves content,
    never touches the input directory, and refuses a missing source."""
    import os

    import pytest

    from team_02_spark.sinks.writers import compact_parquet

    src = str(tmp_path / "tiny")
    df = spark.range(0, 10_000).withColumnRenamed("id", "k")
    df.repartition(40).write.parquet(src)
    n_in = len([f for f in os.listdir(src) if f.endswith(".parquet")])
    assert n_in == 40

    total = sum(
        os.path.getsize(os.path.join(src, f))
        for f in os.listdir(src) if f.endswith(".parquet")
    )
    # target just above half the total → exactly 2 output files
    out = str(tmp_path / "compact")
    n_out = compact_parquet(spark, src, target_file_bytes=(total // 2) + 1,
                            out_path=out)
    assert n_out == 2
    files = [f for f in os.listdir(out) if f.endswith(".parquet")]
    assert len(files) == 2
    # content identical, input untouched
    assert spark.read.parquet(out).count() == 10_000
    assert len([f for f in os.listdir(src) if f.endswith(".parquet")]) == 40

    with pytest.raises(FileNotFoundError, match="no such dir"):
        compact_parquet(spark, str(tmp_path / "missing"), out_path=out)


def test_bucketed_join_avoids_shuffle(spark):
    """SMB join on co-bucketed tables: with both sides bucketed 8 ways
    on the join key, the join plan contains NO shuffle exchange —
    the layout property that makes recurring 100 TB fact-fact joins
    partition-local. (Broadcast disabled for the test so the plan
    can't sidestep the question.)"""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from team_02_spark.operators.scale import write_bucketed

    left = spark.range(0, 10000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v1"))
    right = spark.range(0, 10000).select(
        F.col("id").alias("k"), (F.col("id") % 31).alias("v2"))
    write_bucketed(left, "t_bkt_l", "k", num_buckets=8)
    write_bucketed(right, "t_bkt_r", "k", num_buckets=8)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("t_bkt_l").join(spark.table("t_bkt_r"), "k")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan          # bucket-local merge join
        assert joined.count() == 10000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_bkt_l")
        spark.sql("DROP TABLE IF EXISTS t_bkt_r")


def _committed_versions(local_dir) -> list[str]:
    import os
    import re

    return sorted(
        e for e in os.listdir(local_dir)
        if re.fullmatch(r"v\d{12}", e)
        and os.path.exists(os.path.join(local_dir, e, "_SUCCESS"))
    )


def _check_wap_protocol(spark, out: str, local_dir) -> None:
    import os
    import re

    import pytest

    from team_02_spark.sinks.writers import publish_audited, read_published

    good = spark.range(10).withColumnRenamed("id", "k")
    snap1 = publish_audited(
        good, out,
        checks=[lambda d: None if d.count() == 10 else "bad count"],
    )
    assert read_published(spark, out).count() == 10
    assert re.fullmatch(r"v\d{12}", snap1.rsplit("/", 1)[-1])

    bad = spark.range(3).withColumnRenamed("id", "k")
    with pytest.raises(ValueError, match="audit failed"):
        publish_audited(
            bad, out,
            checks=[lambda d: None if d.count() >= 5 else "too few rows"],
        )
    # reader still sees the GOOD snapshot; the failed staging survives
    assert read_published(spark, out).count() == 10
    entries = os.listdir(local_dir)
    assert any(e.startswith(".staging-") for e in entries)
    # a second good publish supersedes the first
    publish_audited(good.limit(7), out, checks=[])
    assert read_published(spark, out).count() == 7
    assert sum(1 for e in entries if re.fullmatch(r"v\d{12}", e)) == 1
    assert len(_committed_versions(local_dir)) == 2
    # a third keeps only the newest two committed versions
    publish_audited(good.limit(4), out, checks=[])
    assert read_published(spark, out).count() == 4
    assert _committed_versions(local_dir) == ["v000000000001", "v000000000002"]


def test_publish_audited_wap_protocol(spark, tmp_path):
    """Write-Audit-Publish: a passing audit commits a new ``v{n}``
    version; a FAILING audit raises, keeps the staging dir for
    post-mortem, and leaves the previously-published snapshot as what
    readers see — no partial state ever visible. Each commit keeps the
    newest two committed versions."""
    _check_wap_protocol(spark, str(tmp_path / "table"), tmp_path / "table")


def test_publish_audited_wap_protocol_uri_out_dir(spark, tmp_path, monkeypatch):
    """The same protocol on a ``file://`` out_dir: staging, rename and
    commit marker go through the Hadoop FileSystem client, so nothing
    lands in a cwd-relative ``./file:`` directory."""
    import os

    monkeypatch.chdir(tmp_path)
    _check_wap_protocol(spark, (tmp_path / "table").as_uri(), tmp_path / "table")
    assert not os.path.exists(tmp_path / "file:")


def _check_refuses_existing_version(spark, out: str, local_dir, monkeypatch) -> None:
    import os

    import pytest

    import team_02_spark.util as util
    from team_02_spark.sinks.writers import publish_audited, read_published

    good = spark.range(10).withColumnRenamed("id", "k")
    publish_audited(good, out)
    raced = local_dir / "v000000000001"
    listed = util.list_versions

    def concurrent_publisher(*args):
        # this publisher has listed and picked v1; the other one takes
        # v1 before this one's rename
        got = listed(*args)
        raced.mkdir(exist_ok=True)
        return got

    with monkeypatch.context() as m:
        m.setattr(util, "list_versions", concurrent_publisher)
        with pytest.raises(Exception, match="FileAlreadyExistsException"):
            publish_audited(good.limit(3), out)
    assert os.listdir(raced) == []
    assert read_published(spark, out).count() == 10


def test_publish_audited_refuses_existing_version(spark, tmp_path, monkeypatch):
    """Two publishers can pick the same next version. The second rename
    must fail, never move its staging dir INSIDE the other's version
    (what a plain ``FileSystem.rename`` onto an existing dir does),
    on a plain path and on a ``file://`` out_dir alike."""
    for name, out in (("plain", str(tmp_path / "plain")),
                      ("uri", (tmp_path / "uri").as_uri())):
        _check_refuses_existing_version(spark, out, tmp_path / name, monkeypatch)


def test_publish_audited_skips_uncommitted_version(spark, tmp_path):
    """A ``v{n}`` dir without ``_SUCCESS`` is a publisher that crashed
    between its rename and its marker: readers skip it, the next
    publish takes ``n+1`` rather than reusing ``n``, and a crashed
    FIRST publish blocks nothing."""
    import os

    import pytest

    from team_02_spark.sinks.writers import publish_audited, read_published

    out = tmp_path / "table"
    good = spark.range(10).withColumnRenamed("id", "k")
    crashed = publish_audited(good, str(out))
    os.remove(os.path.join(crashed, "_SUCCESS"))
    with pytest.raises(FileNotFoundError):
        read_published(spark, str(out))
    publish_audited(good.limit(7), str(out))
    assert read_published(spark, str(out)).count() == 7

    crashed = publish_audited(good.limit(5), str(out))
    os.remove(os.path.join(crashed, "_SUCCESS"))
    assert read_published(spark, str(out)).count() == 7
    assert publish_audited(good.limit(4), str(out)).endswith("v000000000003")
    assert read_published(spark, str(out)).count() == 4
    assert _committed_versions(out) == ["v000000000001", "v000000000003"]


def test_file_provenance_multi_file_layout(spark, tmp_path):
    """q_file_provenance's oracle encodes the fixture's one-file-per-
    table layout; this pins the _metadata extraction itself against a
    REPARTITIONED multi-file write (the compacted/sharded layout a
    real ingest produces), so the lane stays non-vacuous if the
    fixture layout ever changes: per-file rows and key bounds must
    match an independent per-file recount exactly."""
    import os

    orders = load_table(spark, SF_SMOKE, "orders")
    out = str(tmp_path / "orders_sharded")
    orders.repartition(5).write.parquet(out)
    files = sorted(
        f for f in os.listdir(out)
        if f.endswith(".parquet") and not f.startswith(".")
    )
    assert len(files) == 5

    report = {
        r.file_name: r
        for r in (
            spark.read.parquet(out)
            .select(
                F.col("_metadata.file_name").alias("file_name"),
                F.col("o_orderkey").cast("long").alias("k"),
            )
            .groupBy("file_name")
            .agg(
                F.count("*").alias("n_rows"),
                F.min("k").alias("min_key"),
                F.max("k").alias("max_key"),
            )
            .collect()
        )
    }
    assert set(report) == set(files)
    # independent per-file truth: read each physical file on its own
    total = 0
    for f in files:
        one = spark.read.parquet(os.path.join(out, f)).agg(
            F.count("*").alias("n"),
            F.min("o_orderkey").cast("long").alias("lo"),
            F.max("o_orderkey").cast("long").alias("hi"),
        ).collect()[0]
        got = report[f]
        assert (got.n_rows, got.min_key, got.max_key) == (one.n, one.lo, one.hi)
        total += one.n
    assert total == orders.count()
