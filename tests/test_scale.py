"""Tests for the explicit scale strategies: salted joins preserve
equi-join semantics (the hot-key spread is pinned in
test_scale_guards); bucketed tables join with zero shuffles.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from team_02_spark.operators.scale import co_located_join, salted_join, write_bucketed
from team_02_spark.plans import explain_str, shuffle_count
from team_02_spark.sources import load_table
from tests.conftest import SF_SMOKE


def test_salted_join_matches_plain_join(spark):
    orders = load_table(spark, SF_SMOKE, "orders").withColumnRenamed(
        "o_custkey", "c_custkey"
    )
    cust = load_table(spark, SF_SMOKE, "customer")
    plain = orders.join(cust, "c_custkey").select("o_orderkey", "c_name")
    salted = salted_join(orders, cust, "c_custkey").select("o_orderkey", "c_name")
    assert plain.count() == salted.count()
    assert plain.subtract(salted).count() == 0
    assert salted.subtract(plain).count() == 0


def test_bucketed_join_no_shuffle(spark):
    # warehouse dir is a static conf — the session factory leaves it at
    # ./spark-warehouse (gitignored); tables are dropped in finally
    orders = load_table(spark, SF_SMOKE, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    li = load_table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_quantity").withColumnRenamed("l_orderkey", "o_orderkey")
    write_bucketed(orders, "b_orders", "o_orderkey", num_buckets=8)
    write_bucketed(li, "b_lineitem", "o_orderkey", num_buckets=8)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path
    try:
        joined = co_located_join(spark, "b_orders", "b_lineitem", "o_orderkey")
        n_shuffles = shuffle_count(joined)
        assert n_shuffles == 0, f"bucketed join still shuffles ({n_shuffles})"
        assert "SortMergeJoin" in explain_str(joined)  # bucket-local merge join
        # and it is still correct
        plain = orders.join(li, "o_orderkey")
        assert joined.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_salted_join_rejects_outer_how(spark):
    """right/full_outer would emit unmatched dim rows once per salt
    replica — the operator must refuse them (ADVICE r1)."""
    fact = spark.createDataFrame([(1, "a")], "k long, v string")
    dim = spark.createDataFrame([(1, "x"), (2, "y")], "k long, d string")
    for bad in ("right", "full", "full_outer", "outer"):
        with pytest.raises(ValueError, match="fact-preserving"):
            salted_join(fact, dim, "k", how=bad)
    # left still works and keeps unmatched FACT rows exactly once
    fact2 = spark.createDataFrame([(1, "a"), (9, "z")], "k long, v string")
    out = salted_join(fact2, dim, "k", how="left")
    assert out.count() == 2


def test_binned_range_join_matches_naive_theta_join(spark):
    """The bucketed rewrite must produce EXACTLY the naive theta-join
    pair set — including intervals spanning multiple bins and points
    on inclusive edges — with no duplicate pairs (each pair meets only
    in the point's bin)."""
    from team_02_spark.operators.scale import binned_range_join

    iv = spark.range(30).select(
        F.col("id").alias("iv_id"),
        (F.col("id") * 70).alias("lo"),
        (F.col("id") * 70 + 150).alias("hi"),  # overlaps neighbours, spans >2 bins
    )
    pts = spark.range(2500).select(F.col("id").alias("pt_id"), F.col("id").alias("p"))
    binned = binned_range_join(iv, pts, "lo", "hi", "p", bin_width=100).select(
        "iv_id", "pt_id"
    )
    naive = iv.join(
        pts, (F.col("p") >= F.col("lo")) & (F.col("p") <= F.col("hi"))
    ).select("iv_id", "pt_id")
    assert binned.count() == naive.count()  # count equality catches dup pairs
    assert binned.subtract(naive).count() == 0
    assert naive.subtract(binned).count() == 0


def test_binned_range_join_avoids_nested_loop(spark):
    """The whole point of the operator: with broadcast off (both sides
    'big'), the naive theta join is a BroadcastNestedLoopJoin /
    cartesian, the binned form a shuffled equi-join on the bin key."""
    from team_02_spark.operators.scale import binned_range_join
    from team_02_spark.plans import explain_str

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        iv = spark.range(1000).select(
            (F.col("id") * 10).alias("lo"), (F.col("id") * 10 + 15).alias("hi")
        )
        pts = spark.range(10000).select(F.col("id").alias("p"))
        binned = binned_range_join(iv, pts, "lo", "hi", "p", bin_width=10)
        plan = explain_str(binned)
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "CartesianProduct" not in plan, plan
        naive_plan = explain_str(
            iv.join(pts, (F.col("p") >= F.col("lo")) & (F.col("p") <= F.col("hi")))
        )
        assert (
            "BroadcastNestedLoopJoin" in naive_plan
            or "CartesianProduct" in naive_plan
        ), naive_plan
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )


def test_zorder_layout_tightens_both_dimensions(spark, tmp_path):
    """Z-order clustering must let a range predicate on the
    NON-LEADING dimension prune files — the thing a plain ORDER BY
    layout cannot do (its trailing dimension spans ~the full range in
    every file). Measured as footer-stat file hits for a y-only
    range."""
    from pyspark.sql import functions as F

    from team_02_spark.operators.scale import zorder_layout

    n = 40_000
    df = spark.range(n).select(
        (F.col("id") % 200).alias("x"),
        F.floor(F.col("id") / 200).alias("y"),
    )

    z_path = str(tmp_path / "zorder")
    lin_path = str(tmp_path / "linear")
    zorder_layout(df, ["x", "y"], z_path, n_files=16)
    (
        df.repartitionByRange(16, "x")
        .sortWithinPartitions("x")
        .write.mode("overwrite")
        .parquet(lin_path)
    )

    def files_hit_by_y_range(path, lo, hi):
        """Files whose y min/max stats intersect [lo, hi] — the
        footer-stats pruning a y-only predicate gets."""
        per_file = (
            spark.read.parquet(path)
            .withColumn("f", F.input_file_name())
            .groupBy("f")
            .agg(F.min("y").alias("mn"), F.max("y").alias("mx"))
        )
        return per_file.filter(
            (F.col("mx") >= lo) & (F.col("mn") <= hi)
        ).count()

    # the z-order pitch: a predicate on the NON-leading dimension
    # prunes files too. Linear x-sort leaves every file spanning the
    # full y range (all 16 hit); z-order confines y per file.
    hit_z = files_hit_by_y_range(z_path, 0, 12)
    hit_lin = files_hit_by_y_range(lin_path, 0, 12)
    assert hit_lin >= 12, hit_lin
    assert hit_z <= hit_lin / 2, (hit_z, hit_lin)


def test_hll_shard_merge_equals_single_pass(spark):
    """The mergeability contract: per-shard sketches unioned later
    give EXACTLY the estimate a single global sketch gives (HLL union
    is lossless at equal lg_k), and both sit within sketch error of
    the exact count."""
    from pyspark.sql import functions as F

    from team_02_spark.operators.sketches import merge_sketches, shard_sketches
    from team_02_spark.sources import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events").repartition(8)
    merged = {
        (r["event_type"],): r["approx_distinct"]
        for r in merge_sketches(
            shard_sketches(ev, keys=["event_type"], value="user_id"),
            keys=["event_type"],
        ).collect()
    }
    single = {
        (r["event_type"],): r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.hll_sketch_estimate(
            F.hll_sketch_agg("user_id", F.lit(12))).cast("bigint").alias("n"))
        .collect()
    }
    assert merged == single
    exact = {
        (r["event_type"],): r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n")).collect()
    }
    for k, est in merged.items():
        assert abs(est - exact[k]) <= max(3, 0.05 * exact[k]), (k, est, exact[k])



def test_kll_shard_merge_matches_exact_quantiles(spark):
    """Mergeable KLL quantile sketches: per-shard sketches merged per
    key must reproduce the exact percentiles within KLL rank error
    (~0.6% at k=2048), and agree with the single-pass sketch over the
    unsharded frame — the persist-small/merge-later contract."""
    from pyspark.sql import functions as F

    from team_02_spark.operators.sketches import merge_kll, shard_kll

    df = (
        spark.range(40_000)
        .select(
            F.pmod(F.col("id"), F.lit(4)).alias("shard"),
            (F.col("id") % 2).cast("string").alias("grp"),
            (F.col("id") % 1000).cast("double").alias("v"),
        )
        .persist()
    )
    rolled = merge_kll(
        shard_kll(df, keys=["grp"], value="v", shard_col="shard"),
        keys=["grp"],
    )
    got = {r["grp"]: r for r in rolled.collect()}
    exact = {
        r["grp"]: r
        for r in df.groupBy("grp")
        .agg(
            F.expr("percentile(v, 0.5)").alias("p50"),
            F.expr("percentile(v, 0.99)").alias("p99"),
            F.count("*").alias("n"),
        )
        .collect()
    }
    for grp, e in exact.items():
        g = got[grp]
        assert g["n_rows"] == e["n"]
        # rank error 0.6% of 1000 distinct values => ±6 value units,
        # assert with margin
        assert abs(g["q5"] - e["p50"]) <= 15
        assert abs(g["q99"] - e["p99"]) <= 15
    # merge-of-shards == single-pass sketch at the estimate level
    single = merge_kll(
        shard_kll(df.withColumn("one", F.lit(0)), keys=["grp"],
                  value="v", shard_col="one"),
        keys=["grp"],
    )
    sg = {r["grp"]: r for r in single.collect()}
    for grp in exact:
        assert abs(got[grp]["q9"] - sg[grp]["q9"]) <= 15
    df.unpersist()


def test_theta_audience_overlap_exact_at_small_cardinality(spark):
    """Theta-sketch pairwise overlap: below nominal entries the
    sketch is exact, so every pairwise intersection/difference must
    EQUAL the true distinct counts on the events fixture."""
    from pyspark.sql import functions as F

    from team_02_spark.operators.sketches import audience_overlap

    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").select(
        "event_type", "user_id"
    )
    got = {
        (r["grp_a"], r["grp_b"]): r
        for r in audience_overlap(
            ev, group_col="event_type", value="user_id"
        ).collect()
    }
    users = {
        t: {r["user_id"] for r in
            ev.filter(F.col("event_type") == t).select("user_id")
            .distinct().collect()}
        for t in ("click", "purchase", "view", "signup", "error")
    }
    assert got  # pairs exist
    for (ga, gb), r in got.items():
        assert r["n_a"] == len(users[ga])
        assert r["n_b"] == len(users[gb])
        assert r["n_both"] == len(users[ga] & users[gb])
        assert r["n_only_a"] == len(users[ga] - users[gb])
