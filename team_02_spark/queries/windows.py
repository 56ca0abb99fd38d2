"""Window-function queries (SURVEY.md §2.6): ranking, running
aggregates, top-k (with and without ties), ratio-to-report shares,
value-picking FIRST/LAST/NTH_VALUE over explicit frames, and the
EXCLUDE CURRENT ROW leave-one-out rewrite.

Determinism: every ORDER BY inside a window carries a unique-key
tiebreaker so row_number/frames agree between engines; running sums use
a ROWS frame with fully-determined order so the left-to-right double
accumulation is bit-identical.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from team_02_spark.queries.registry import query
from team_02_spark.queries._util import t


@query(
    "q_window_rank",
    oracle="""
    SELECT c_custkey, c_nationkey, c_acctbal, rnk FROM (
        SELECT c_custkey, c_nationkey, c_acctbal,
               RANK() OVER (PARTITION BY c_nationkey
                            ORDER BY c_acctbal DESC, c_custkey) AS rnk
        FROM customer
    ) r WHERE rnk <= 3
    """,
)
def q_window_rank(spark, sf_dir):
    """W1: top-3 customers by balance per nation. One shuffle on the
    partition key; the rnk<=3 filter cuts output before any later op."""
    cust = t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.col("c_custkey"))
    return (
        cust.select(
            "c_custkey", "c_nationkey", "c_acctbal",
            F.rank().over(w).cast("int").alias("rnk"),
        )
        .filter(F.col("rnk") <= 3)
    )


@query(
    "q_window_running",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS running_total,
           LAG(o_orderkey) OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate, o_orderkey) AS prev_orderkey
    FROM orders
    """,
)
def q_window_running(spark, sf_dir):
    """W2: per-customer running spend + previous order (lag). Decimal
    accumulation inside the frame → order-independent of engine
    internals; frame order fully determined by (date, key)."""
    orders = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return orders.select(
        "o_custkey", "o_orderkey", "o_orderdate",
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).over(frame)
        .cast("double").alias("running_total"),
        F.lag("o_orderkey").over(w).alias("prev_orderkey"),
    )


@query(
    "q_topk",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
)
def q_topk(spark, sf_dir):
    """W3: global top-k — Spark plans TakeOrderedAndProject (per-
    partition heap + driver merge of k), never a full sort."""
    return (
        t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.col("o_orderkey"))
        .limit(10)
    )


@query(
    "q_window_ntile_dist",
    oracle="""
    SELECT c_custkey, c_acctbal,
           NTILE(4) OVER (ORDER BY c_acctbal, c_custkey) AS quartile,
           CAST(PERCENT_RANK() OVER (ORDER BY c_acctbal, c_custkey) AS DOUBLE) AS pct_rank,
           CUME_DIST() OVER (ORDER BY c_acctbal, c_custkey) AS cume
    FROM customer
    """,
)
def q_window_ntile_dist(spark, sf_dir):
    """W1/W2 breadth: ntile / percent_rank / cume_dist (single global
    window — fine for dimension-sized inputs; partition it for facts)."""
    cust = t(spark, sf_dir, "customer")
    w = Window.orderBy("c_acctbal", "c_custkey")
    return cust.select(
        "c_custkey", "c_acctbal",
        F.ntile(4).over(w).cast("int").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@query(
    "q_window_range_frame",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                OVER (PARTITION BY o_custkey ORDER BY o_totalprice
                      RANGE BETWEEN 5000.0 PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS nearby_total,
           COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
                          RANGE BETWEEN 5000.0 PRECEDING AND CURRENT ROW)
               AS nearby_n
    FROM orders
    """,
)
def q_window_range_frame(spark, sf_dir):
    """W2: VALUE-range frame (rangeBetween) — the frame is defined by
    the ordering value (±5000 of the current price), not row offsets;
    deterministic regardless of ties because membership depends only
    on values."""
    orders = t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_totalprice")
        .rangeBetween(-5000, Window.currentRow)
    )
    return orders.select(
        "o_orderkey", "o_custkey", "o_totalprice",
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).over(w)
        .cast("double").alias("nearby_total"),
        F.count("*").over(w).alias("nearby_n"),
    )


@query(
    "q_percent_of_total",
    oracle="""
    WITH nat AS (
        SELECT n.n_regionkey, n.n_name,
               CAST(SUM(CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS cents
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_regionkey, n.n_name
    )
    SELECT n_name, cents,
           CAST(cents * 10000 //
                GREATEST(CAST(SUM(cents) OVER (PARTITION BY n_regionkey)
                              AS BIGINT), 1) AS BIGINT) AS share_bp
    FROM nat
    """,
)
def q_percent_of_total(spark, sf_dir):
    """Ratio-to-report: each nation's share of its REGION's customer
    balance in integer basis points — aggregate once, then a
    region-partitioned window sum provides the denominator without a
    second pass. GREATEST(...,1) guards the all-zero region (balances
    can be negative; a zero regional fold must not divide by zero)."""
    cust = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    cents = (
        F.col("c_acctbal").cast("decimal(18,2)") * 100
    ).cast("bigint")
    nat = (
        cust.join(nation, cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_regionkey", "n_name")
        .agg(F.sum(cents).cast("bigint").alias("cents"))
    )
    return nat.select(
        "n_name", "cents",
        F.expr(
            "CAST(cents * 10000 DIV GREATEST(CAST(SUM(cents) OVER "
            "(PARTITION BY n_regionkey) AS BIGINT), 1) AS BIGINT)"
        ).alias("share_bp"),
    )


@query(
    "q_topk_ties",
    oracle="""
    SELECT o_orderpriority, o_totalprice,
           CAST(RANK() OVER (PARTITION BY o_orderpriority
                             ORDER BY o_totalprice DESC) AS INT) AS rnk
    FROM orders
    QUALIFY rnk <= 2
    """,
)
def q_topk_ties(spark, sf_dir):
    """Top-k WITH TIES per group: rank() (gaps allowed, ties share a
    rank) keeps EVERY row tied at the boundary — the deterministic
    with-ties semantics row_number-based top-k lanes cannot express
    (they pick an arbitrary tie unless the order is totalized)."""
    orders = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc()
    )
    return (
        orders.select(
            "o_orderpriority", "o_totalprice",
            F.rank().over(w).cast("int").alias("rnk"),
        )
        .filter(F.col("rnk") <= 2)
    )


@query(
    "q_nth_value",
    oracle="""
    SELECT DISTINCT o_custkey,
           CAST(FIRST_VALUE(o_orderdate) OVER w AS DATE) AS first_dt,
           CAST(LAST_VALUE(o_orderdate) OVER w AS DATE) AS last_dt,
           NTH_VALUE(o_totalprice, 2) OVER w AS second_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING
                          AND UNBOUNDED FOLLOWING)
    """,
)
def q_nth_value(spark, sf_dir):
    """FIRST_VALUE / LAST_VALUE / NTH_VALUE over explicit full frames
    — the value-picking window family (ranking and offset families are
    covered by their own lanes). The frame MUST be unbounded-both:
    the default RANGE..CURRENT frame makes LAST_VALUE the current row,
    the classic window gotcha this lane pins. One row per customer via
    DISTINCT (every row in a partition carries identical picks)."""
    orders = t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return orders.select(
        "o_custkey",
        F.first("o_orderdate").over(w).cast("date").alias("first_dt"),
        F.last("o_orderdate").over(w).cast("date").alias("last_dt"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
    ).distinct()


@query(
    "q_window_exclude",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                  OVER (PARTITION BY o_custkey)
                - CAST(o_totalprice AS DECIMAL(18,4)) AS DOUBLE) AS others_total
    FROM orders
    """,
)
def q_window_exclude(spark, sf_dir):
    """EXCLUDE CURRENT ROW window emulation (the SQL:2016 frame
    exclusion clause neither Spark nor most engines ship): each
    order's view of its customer's OTHER spending, computed as the
    full-partition exact-decimal sum minus the row's own value — the
    standard leave-one-out rewrite, one window pass instead of a
    self-join. Leave-one-out aggregates are the shape behind
    cross-validation features and fraud baselines ("how unusual is
    this order vs the account's other activity"). Decimal sum keeps
    the subtraction exact (double summation order would leak into
    the difference)."""
    orders = t(spark, sf_dir, "orders")
    dec = F.col("o_totalprice").cast("decimal(18,4)")
    w = Window.partitionBy("o_custkey")
    return orders.select(
        "o_orderkey",
        "o_custkey",
        (F.sum(dec).over(w) - dec).cast("double").alias("others_total"),
    )
