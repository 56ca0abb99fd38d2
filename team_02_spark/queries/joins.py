"""Join queries (SURVEY.md §2.4): inner/left/multi/semi/anti/range,
the salted skew join, a quantile-bucket join against broadcast
boundaries, and the co-bucketed (zero-Exchange) sort-merge join.

Scale posture: explicit ``F.broadcast`` hints are reserved for sides
whose cardinality is FIXED regardless of data volume (nation/region,
in-plan literal frames, tiny aggregates). Tables that grow with the
dataset — orders, customer, lineitem — carry NO hint: an explicit
hint overrides Catalyst/AQE, which at 100x scale forces an OOM
instead of degrading to sort-merge. Un-hinted, AQE still broadcasts
them whenever runtime stats come in under autoBroadcastJoinThreshold
(so small-SF plans are identical), and falls back to shuffle joins —
with skew splitting — when they don't.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from team_02_spark.queries.registry import query
from team_02_spark.queries._util import dsum, dsum_sql, t


@query(
    "q_join_inner",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_orderstatus = 'F'
    """,
)
def q_join_inner(spark, sf_dir):
    """J1/J2: equi inner join. The filter on orders is pushed below
    the join by Catalyst. customer scales with SF, so join strategy is
    left to AQE (broadcast when its runtime size allows, sort-merge
    when it doesn't) rather than forced."""
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    cust = t(spark, sf_dir, "customer")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .select("o_orderkey", "o_totalprice", "c_name", "c_mktsegment")
    )


@query(
    "q_join_left",
    oracle="""
    SELECT c.c_custkey, c.c_name, COUNT(o.o_orderkey) AS n_orders
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey, c.c_name
    """,
)
def q_join_left(spark, sf_dir):
    """J2: left outer join preserving order-less customers (COUNT of a
    right-side column counts only matches → 0 for them)."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@query(
    "q_join_multi",
    oracle=f"""
    SELECT c.c_mktsegment,
           {dsum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def q_join_multi(spark, sf_dir):
    """J2: 3-way fact→dim join (TPC-H Q3 flavor). orders and customer
    both scale with SF so neither is hint-broadcast: AQE broadcasts
    them at small SF (runtime stats under the threshold — same plan as
    a forced hint) and shifts to shuffle joins at scale. The final agg
    is one shuffle on c_mktsegment (5 groups). Revenue uses the
    decimal-sum-as-double discipline so partial-aggregation order
    can't change the result."""
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@query(
    "q_join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
    """,
)
def q_join_semi(spark, sf_dir):
    """J3: left-semi — customers with at least one big order; no
    duplication of the left side, right side reduced to its key."""
    cust = t(spark, sf_dir, "customer")
    big = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    return (
        cust.join(big, cust.c_custkey == big.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
    )


@query(
    "q_join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q_join_anti(spark, sf_dir):
    """J3: left-anti — customers with no orders at all."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


@query(
    "q_join_range",
    oracle="""
    WITH bands(band, lo, hi) AS (
        VALUES ('small', 0.0, 50000.0),
               ('medium', 50000.0, 150000.0),
               ('large', 150000.0, 100000000.0)
    )
    SELECT b.band, COUNT(*) AS n_orders
    FROM orders o JOIN bands b
      ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
    GROUP BY b.band
    """,
)
def q_join_range(spark, sf_dir):
    """J4: theta/range join against a small in-plan band table —
    broadcast nested-loop, the right plan when one side is tiny. (For
    large-large range joins the engine's path is bucketize-then-
    equi-join: truncate the value to band-width buckets on both sides,
    equi-join on bucket, re-verify the range — same trick as the
    as-of/interval join.)"""
    orders = t(spark, sf_dir, "orders")
    bands = spark.createDataFrame(
        [("small", 0.0, 50000.0), ("medium", 50000.0, 150000.0),
         ("large", 150000.0, 100000000.0)],
        "band string, lo double, hi double",
    )
    return (
        orders.join(
            F.broadcast(bands),
            (orders.o_totalprice >= bands.lo) & (orders.o_totalprice < bands.hi),
        )
        .groupBy("band")
        .agg(F.count("*").alias("n_orders"))
    )


@query(
    "q_join_salted",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def q_join_salted(spark, sf_dir):
    """Skew lane: the orders->customer join executed through
    operators.scale.salted_join (fact side salted 8 ways, dimension
    replicated) — the explicit remedy when one key holds enough of a
    100 TB fact table that even AQE's skew-split leaves a single key
    group too big for an executor. Salting is routing only: the
    aggregate equals the plain join's, which is exactly what the
    oracle checks."""
    from team_02_spark.operators.scale import salted_join

    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    joined = salted_join(orders, cust.withColumnRenamed("c_custkey", "o_custkey"),
                         "o_custkey", salt=8)
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        dsum("o_totalprice").alias("revenue"),
    )


@query(
    "q_quantile_bucket_join",
    oracle="""
    WITH by_price AS (
        SELECT o_totalprice AS p, COUNT(*) AS cnt FROM orders GROUP BY 1
    ),
    cum AS (
        SELECT p, SUM(cnt) OVER (ORDER BY p) AS cum,
               SUM(cnt) OVER () AS n
        FROM by_price
    ),
    bounds AS (
        SELECT MIN(CASE WHEN cum >= GREATEST((n + 1) // 4, 1) THEN p END)
                   AS q1,
               MIN(CASE WHEN cum >= GREATEST((n + 1) // 2, 1) THEN p END)
                   AS q2,
               MIN(CASE WHEN cum >= GREATEST(3 * (n + 1) // 4, 1) THEN p END)
                   AS q3
        FROM cum
    )
    SELECT CASE WHEN o_totalprice < b.q1 THEN 'q1'
                WHEN o_totalprice < b.q2 THEN 'q2'
                WHEN o_totalprice < b.q3 THEN 'q3'
                ELSE 'q4' END AS bucket,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                         AS BIGINT)) AS BIGINT) AS cents
    FROM orders CROSS JOIN bounds b
    GROUP BY 1
    """,
)
def q_quantile_bucket_join(spark, sf_dir):
    """Percentile-bucket join: exact DISCRETE quartile boundaries of
    order value (rank-select over the DISTINCT-price table, the AUC
    trick — the cumulative window runs over distinct values, not rows,
    so the sort input is value-cardinality-sized), broadcast as a
    1-row frame, then every order CASE-bucketed against them and
    aggregated per bucket. The discrete boundaries are observed
    values, so both engines agree exactly."""
    orders = t(spark, sf_dir, "orders")
    by_price = orders.groupBy(F.col("o_totalprice").alias("p")).agg(
        F.count("*").alias("cnt")
    )
    cum = by_price.select(
        "p",
        F.sum("cnt").over(Window.orderBy("p")).alias("cum"),
        F.sum("cnt").over(
            Window.partitionBy()
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("n"),
    )
    bounds = cum.agg(
        F.min(F.when(F.expr("cum >= GREATEST((n + 1) DIV 4, 1)"),
                     F.col("p"))).alias("q1"),
        F.min(F.when(F.expr("cum >= GREATEST((n + 1) DIV 2, 1)"),
                     F.col("p"))).alias("q2"),
        F.min(F.when(F.expr("cum >= GREATEST(3 * (n + 1) DIV 4, 1)"),
                     F.col("p"))).alias("q3"),
    )
    bucket = (
        F.when(F.col("o_totalprice") < F.col("q1"), "q1")
        .when(F.col("o_totalprice") < F.col("q2"), "q2")
        .when(F.col("o_totalprice") < F.col("q3"), "q3")
        .otherwise("q4")
    )
    cents = (
        F.col("o_totalprice").cast("decimal(18,2)") * 100
    ).cast("bigint")
    return (
        orders.crossJoin(F.broadcast(bounds))
        .select(bucket.alias("bucket"), cents.alias("c"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_orders"),
             F.sum("c").cast("bigint").alias("cents"))
    )


@query(
    "q_bucketed_join",
    oracle="""
    SELECT n.n_name, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def q_bucketed_join(spark, sf_dir):
    """The pay-the-shuffle-ONCE storage pattern as a correctness
    lane: both join sides are persisted as co-bucketed catalog tables
    (16 hash buckets on the join key, paid at write time), then the
    fact⋈dim equi-join runs with ZERO Exchange operators — Catalyst
    recognizes the matching bucket layout (test_scale pins the
    no-shuffle plan property; this lane pins the ANSWER through the
    bucketed write+read path, which exercises the bucket-pruned
    reader). Table names are keyed by applicationId so concurrent
    sessions never collide; overwrite mode keeps re-runs idempotent.
    Stale per-app dirs from PRIOR sessions are reaped by
    ``operators.scale.reap_bucketed_tables`` from session teardown —
    NOT here: a declared query never mutates shared warehouse state
    as a side effect (r7 verdict #8).
    At 100 TB this is THE nightly-join optimization: the expensive
    fact-table exchange happens once per ingest, not once per query."""
    from team_02_spark.operators.scale import co_located_join, write_bucketed

    app = spark.sparkContext.applicationId.replace("-", "_").replace(".", "_")
    lt, rt = f"b7_orders_{app}", f"b7_cust_{app}"
    orders = t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_totalprice"
    )
    cust = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_nationkey"
    )
    write_bucketed(orders, lt, "custkey", num_buckets=16)
    write_bucketed(cust, rt, "custkey", num_buckets=16)
    joined = co_located_join(spark, lt, rt, "custkey")
    nation = t(spark, sf_dir, "nation")
    return (
        joined.join(
            F.broadcast(nation), joined["c_nationkey"] == nation["n_nationkey"]
        )
        .groupBy("n_name")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("double")
            .alias("revenue"),
        )
    )
