"""Aggregation queries (SURVEY.md §2.5): group-by, count-distinct,
rollup/cube, confusion matrix, percentiles, the salted two-stage
(skew-proof) group-by, largest-remainder apportionment, and a
cogrouped applyInPandas fold.

Spark plans every groupBy as partial (map-side) + final hash
aggregation automatically; the decimal-sum discipline (see _util) makes
double sums independent of that partial/final split order.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from team_02_spark.queries.registry import query
from team_02_spark.queries._util import davg, davg_sql, dsum, dsum_sql, t


@query(
    "q_groupby_agg",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {dsum_sql('l_quantity')} AS sum_qty,
           {dsum_sql('l_extendedprice')} AS sum_price,
           {dsum_sql('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {davg_sql('l_quantity')} AS avg_qty,
           {davg_sql('l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_groupby_agg(spark, sf_dir):
    """A2: TPC-H Q1 pricing summary — the canonical wide hash-agg."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_price"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_disc_price"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_discount").alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "q_count_distinct",
    oracle="""
    SELECT COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps,
           COUNT(*) AS n_rows
    FROM lineitem
    """,
)
def q_count_distinct(spark, sf_dir):
    """A3: exact distinct counts (Spark expands to two-phase agg). The
    approximate HLL++ variant is q_approx_distinct (rows-only)."""
    li = t(spark, sf_dir, "lineitem")
    return li.agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count("*").alias("n_rows"),
    )


@query("q_approx_distinct")  # rows-only: HLL estimates are engine-specific
def q_approx_distinct(spark, sf_dir):
    """A3: approx_count_distinct (HyperLogLog++) — the 100 TB path for
    distinct counts (no shuffle of distinct values, fixed-size sketch).
    Estimates differ per engine → rows-only check."""
    li = t(spark, sf_dir, "lineitem")
    return li.agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("n_parts_approx"),
        F.approx_count_distinct("l_suppkey", 0.02).alias("n_supps_approx"),
    )


@query(
    "q_rollup",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS INT) AS g_flag, CAST(GROUPING(l_linestatus) AS INT) AS g_status,
           {dsum_sql('l_quantity')} AS sum_qty, COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_rollup(spark, sf_dir):
    """A4: hierarchical subtotals. GROUPING() columns disambiguate
    'NULL because subtotal' from data nulls in the hash compare."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
            dsum("l_quantity").alias("sum_qty"),
            F.count("*").alias("n"),
        )
        .select("l_returnflag", "l_linestatus", "g_flag", "g_status", "sum_qty", "n")
    )


@query(
    "q_cube",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS INT) AS g_flag, CAST(GROUPING(l_linestatus) AS INT) AS g_status,
           {dsum_sql('l_extendedprice')} AS sum_price, COUNT(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q_cube(spark, sf_dir):
    """A4: full cross-dimensional subtotals."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
            dsum("l_extendedprice").alias("sum_price"),
            F.count("*").alias("n"),
        )
        .select("l_returnflag", "l_linestatus", "g_flag", "g_status", "sum_price", "n")
    )


@query(
    "q_confusion_matrix",
    oracle="""
    WITH preds AS (
        SELECT CASE WHEN label >= 2 THEN 1 ELSE 0 END AS actual,
               CASE WHEN (label + vec_id % 3) % 5 >= 2 THEN 1 ELSE 0 END AS predicted
        FROM embeddings
    )
    SELECT
        CAST(SUM(CASE WHEN actual = 1 AND predicted = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        CAST(SUM(CASE WHEN actual = 0 AND predicted = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        CAST(SUM(CASE WHEN actual = 1 AND predicted = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        CAST(SUM(CASE WHEN actual = 0 AND predicted = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
        ROUND(CAST(SUM(CASE WHEN actual = 1 AND predicted = 1 THEN 1 ELSE 0 END) AS DOUBLE)
          / NULLIF(SUM(CASE WHEN predicted = 1 THEN 1 ELSE 0 END), 0), 6) AS precision_,
        ROUND(CAST(SUM(CASE WHEN actual = 1 AND predicted = 1 THEN 1 ELSE 0 END) AS DOUBLE)
          / NULLIF(SUM(CASE WHEN actual = 1 THEN 1 ELSE 0 END), 0), 6) AS recall_
    FROM preds
    """,
)
def q_confusion_matrix(spark, sf_dir):
    """A1: tn/fp/fn/tp + precision/recall as ONE conditional-agg pass
    (reference computes these with sklearn per model,
    src/main.py:121-129; here it is a single distributed aggregation
    over a deterministic synthetic (actual, predicted) pair derived
    from embeddings.label — FIXTURES.md §A suggests exactly this)."""
    emb = t(spark, sf_dir, "embeddings")
    preds = emb.select(
        F.when(F.col("label") >= 2, 1).otherwise(0).alias("actual"),
        F.when(((F.col("label") + F.col("vec_id") % 3) % 5) >= 2, 1)
        .otherwise(0)
        .alias("predicted"),
    )
    tp = F.sum(F.when((F.col("actual") == 1) & (F.col("predicted") == 1), 1).otherwise(0)).cast("bigint")
    fp = F.sum(F.when((F.col("actual") == 0) & (F.col("predicted") == 1), 1).otherwise(0)).cast("bigint")
    fn = F.sum(F.when((F.col("actual") == 1) & (F.col("predicted") == 0), 1).otherwise(0)).cast("bigint")
    tn = F.sum(F.when((F.col("actual") == 0) & (F.col("predicted") == 0), 1).otherwise(0)).cast("bigint")
    pred_pos = F.sum(F.when(F.col("predicted") == 1, 1).otherwise(0))
    actual_pos = F.sum(F.when(F.col("actual") == 1, 1).otherwise(0))
    return preds.agg(
        tp.alias("tp"),
        fp.alias("fp"),
        fn.alias("fn"),
        tn.alias("tn"),
        F.round(tp.cast("double") / F.nullif(pred_pos, F.lit(0)), 6).alias("precision_"),
        F.round(tp.cast("double") / F.nullif(actual_pos, F.lit(0)), 6).alias("recall_"),
    )


@query(
    "q_percentiles",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
           ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
           ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS p99,
           MIN(l_extendedprice) AS lo,
           MAX(l_extendedprice) AS hi
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_percentiles(spark, sf_dir):
    """A2 breadth: exact continuous percentiles (both engines linearly
    interpolate; rounded to 4dp since the interpolation arithmetic
    differs in operation order). The approx_percentile sketch variant
    is the 100 TB path (rows-only check, engine-specific estimates)."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("l_extendedprice", F.lit(0.9)), 4).alias("p90"),
        F.round(F.percentile("l_extendedprice", F.lit(0.99)), 4).alias("p99"),
        F.min("l_extendedprice").alias("lo"),
        F.max("l_extendedprice").alias("hi"),
    )


@query("q_approx_percentiles")  # rows-only: sketch estimates are engine-specific
def q_approx_percentiles(spark, sf_dir):
    """A3 analogue for quantiles: approx_percentile — fixed-size sketch,
    no full sort, the scale path for distribution profiling."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_percentile("l_extendedprice", F.lit(0.5), F.lit(1000)).alias("p50_approx"),
        F.approx_percentile("l_extendedprice", F.lit(0.99), F.lit(1000)).alias("p99_approx"),
    )


@query(
    "q_bitmap_distinct",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
    FROM events
    GROUP BY event_type
    """,
)
def q_bitmap_distinct(spark, sf_dir):
    """EXACT mergeable distinct counting via Spark 3.5+ bitmap
    aggregates (operators/sketches.shard_bitmaps/merge_bitmaps):
    per-shard 32k-bit bucket bitmaps OR-merge losslessly, so shard
    partials persisted at ingest answer any later "distinct users per
    event type" rollup EXACTLY with no raw rescan — the audit-grade
    companion to the approximate HLL lane (same two-phase shape,
    exactness instead of constant size; right when the key domain is
    dense integers). The oracle is plain COUNT(DISTINCT): the bitmap
    path must reproduce it bit-for-bit, which is the whole claim."""
    from team_02_spark.operators.sketches import (
        merge_bitmaps, shard_bitmaps,
    )

    ev = t(spark, sf_dir, "events")
    shards = shard_bitmaps(
        ev.select("event_type", "user_id"),
        keys=["event_type"], value="user_id",
    )
    return merge_bitmaps(shards, keys=["event_type"])


@query(
    "q_twostage_agg",
    oracle=f"""
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                         AS BIGINT)) AS BIGINT) AS cents
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_twostage_agg(spark, sf_dir):
    """Salted two-stage aggregation — the skew-proof group-by: stage 1
    aggregates on (key, salt) so a hot key spreads over 8 reducers,
    stage 2 merges the 8 partials per key. The result is exactly the
    plain group-by (the oracle), the plan is two small exchanges
    instead of one skewed one. Counts and integer cents merge
    losslessly across stages (any associative agg does)."""
    li = t(spark, sf_dir, "lineitem")
    cents = (
        F.col("l_extendedprice").cast("decimal(18,2)") * 100
    ).cast("bigint")
    stage1 = (
        li.select(
            "l_returnflag",
            (F.col("l_orderkey") % 8).alias("__salt"),
            cents.alias("cents"),
        )
        .groupBy("l_returnflag", "__salt")
        .agg(F.count("*").alias("pn"), F.sum("cents").alias("pc"))
    )
    return stage1.groupBy("l_returnflag").agg(
        F.sum("pn").cast("bigint").alias("n_rows"),
        F.sum("pc").cast("bigint").alias("cents"),
    )


@query(
    "q_cogroup_pandas",
    oracle="""
    SELECT c.c_custkey,
           COUNT(o.o_orderkey) AS n_orders,
           COALESCE(CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                                  AS BIGINT)) AS BIGINT), 0) AS order_cents,
           CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS acctbal_cents
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey, c.c_acctbal
    """,
)
def q_cogroup_pandas(spark, sf_dir):
    """U-surface breadth: cogrouped applyInPandas — customer and
    orders cogrouped on custkey, one Arrow batch pair per key group,
    the escape hatch for per-entity logic no join/agg expresses
    (sequence alignment, per-entity model scoring). Here the pandas fn
    computes an SQL-checkable aggregate so the oracle can verify the
    cogroup plumbing end-to-end. Exact integer cents via rint (prices
    are 2dp-valued doubles, so rint lands the same integer as the
    engines' decimal cast)."""
    import pandas as pd

    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    orders = t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")

    def fold(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        if len(left):
            key = int(left["c_custkey"].iloc[0])
            bal = int(np.rint(float(left["c_acctbal"].iloc[0]) * 100))
        else:  # order referencing an absent customer: not in fixtures,
            return pd.DataFrame(  # but the seam stays total
                columns=["c_custkey", "n_orders", "order_cents",
                         "acctbal_cents"]
            )
        cents = np.rint(right["o_totalprice"].to_numpy(dtype="float64")
                        * 100).astype("int64")
        return pd.DataFrame({
            "c_custkey": [key],
            "n_orders": [int(len(right))],
            "order_cents": [int(cents.sum())],
            "acctbal_cents": [bal],
        })

    return (
        cust.groupBy("c_custkey")
        .cogroup(orders.groupBy("o_custkey"))
        .applyInPandas(
            fold,
            schema=("c_custkey long, n_orders long, order_cents long, "
                    "acctbal_cents long"),
        )
    )


@query(
    "q_allocation",
    oracle="""
    WITH cnt AS (
      SELECT source, CAST(SUM(n_chars) AS BIGINT) AS w, COUNT(*) AS n
      FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM cnt),
    shares AS (
      SELECT source, n, (w * 1000) // tw AS base, (w * 1000) % tw AS rem
      FROM cnt, tot
    ),
    ranked AS (
      SELECT source, n, base, rem,
             ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk
      FROM shares
    ),
    spent AS (SELECT CAST(SUM(base) AS BIGINT) AS used FROM ranked)
    SELECT source, CAST(n AS BIGINT) AS n_docs,
           CAST(base + CASE WHEN rk <= 1000 - used THEN 1 ELSE 0 END AS BIGINT)
             AS slots
    FROM ranked, spent
    """,
)
def q_allocation(spark, sf_dir):
    """Largest-remainder (Hamilton) apportionment: split EXACTLY 1000
    sample slots across document sources proportional to character
    volume — floor shares from integer division, then the leftover
    slots go to the largest fractional remainders (ties broken by
    source name). The exact-N guarantee is what proportional
    samplers (q_token_budget_sample's quota stage, shard planners)
    need and per-group rounding can't give. Pure integer arithmetic
    end to end — no floats to disagree on. At 100 TB: one corpus
    aggregate to the source-cardinality table, then all windowing
    runs on that tiny table (documented single-partition window over
    |sources| rows); the global totals ride broadcast 1-row
    cross joins, the same shape as BM25's corpus stats."""
    docs = t(spark, sf_dir, "documents")
    cnt = docs.groupBy("source").agg(
        F.sum("n_chars").cast("bigint").alias("w"), F.count("*").alias("n")
    )
    tot = cnt.agg(F.sum("w").cast("bigint").alias("tw"))
    shares = cnt.crossJoin(F.broadcast(tot)).select(
        "source",
        "n",
        F.expr("(w * 1000) div tw").alias("base"),
        ((F.col("w") * 1000) % F.col("tw")).alias("rem"),
    )
    rk = F.row_number().over(Window.orderBy(F.col("rem").desc(), "source"))
    ranked = shares.select("source", "n", "base", rk.alias("rk"))
    spent = ranked.agg(F.sum("base").cast("bigint").alias("used"))
    return ranked.crossJoin(F.broadcast(spent)).select(
        "source",
        F.col("n").cast("bigint").alias("n_docs"),
        (
            F.col("base")
            + F.when(F.col("rk") <= 1000 - F.col("used"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("slots"),
    )
