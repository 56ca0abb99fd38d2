"""Round-7 batch C: experimentation analytics (CUPED variance
reduction, difference-in-differences), graph assortativity (average
neighbor degree), and the small-files compaction maintenance lane.

The experiment lanes extend q_abtest's exact-integer discipline to
the modern causal toolkit: every mean is a single integer-cents
sum / count division, every estimator a fixed IEEE expression over
identically-derived doubles, so both engines agree bit-for-bit
without any rounding exit (FIXTURES.md §C). The pre/post boundary is
the same fixed mid-month timestamp the drift lanes use.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from team_02_spark.queries.registry import query
from team_02_spark.queries._util import run_dir, t
from team_02_spark.util import shared_pass

_SPLIT = "2024-01-16 00:00:00"


def _cents(col: str) -> F.Column:
    """2dp-valued double -> exact BIGINT cents (FIXTURES.md §C)."""
    return (F.col(col).cast("decimal(18,2)") * 100).cast("bigint")


# ----------------------------------------------------------------- CUPED


@query(
    "q_cuped",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id, user_id % 2 AS variant,
             CAST(SUM(CASE WHEN ts < TIMESTAMP '{_SPLIT}'
                  THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS x,
             CAST(SUM(CASE WHEN ts >= TIMESTAMP '{_SPLIT}'
                  THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS y
      FROM events GROUP BY user_id
    ),
    g AS (
      SELECT COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x*x) AS BIGINT) AS sxx,
             CAST(SUM(x*y) AS BIGINT) AS sxy
      FROM per_user
    ),
    th AS (
      SELECT CAST(n*sxy - sx*sy AS DOUBLE)
               / NULLIF(CAST(n*sxx - sx*sx AS DOUBLE), 0.0) AS theta,
             CAST(sx AS DOUBLE) / n AS gx
      FROM g
    )
    SELECT variant,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(y) AS DOUBLE) / COUNT(*) AS mean_post_cents,
           CAST(SUM(y) AS DOUBLE) / COUNT(*)
             - th.theta * (CAST(SUM(x) AS DOUBLE) / COUNT(*) - th.gx)
             AS adj_post_cents
    FROM per_user, th
    GROUP BY variant, th.theta, th.gx
    """,
)
def q_cuped(spark, sf_dir):
    """CUPED variance reduction (Deng et al. 2013, the industry-
    standard experiment-sensitivity technique): per-user pre-period
    spend X and post-period spend Y in exact integer cents, pooled
    theta = cov(X,Y)/var(X) from BIGINT sufficient statistics, and
    the per-arm adjusted mean Y - theta(X - mean X). Arms are the
    same user-parity assignment as q_abtest. Determinism: every
    float is produced by ONE division of exact integers or one
    fixed multiply/subtract chain over such values — both engines
    execute the identical IEEE expression. Sufficient-stat overflow
    bound: |x| ~ per-user cents, n·Σx² must stay under 2^63
    (~9e18) — holds through sf1000 for 2dp event values; beyond
    that, lift the sums to DECIMAL(38,0). At 100 TB: one user-keyed
    aggregate, a 1-row broadcast of (theta, gx), and a 2-row
    reduction — the corpus is touched once."""
    ev = t(spark, sf_dir, "events")
    split = F.lit(_SPLIT).cast("timestamp")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < split, _cents("value")).otherwise(0))
        .cast("bigint")
        .alias("x"),
        F.sum(F.when(F.col("ts") >= split, _cents("value")).otherwise(0))
        .cast("bigint")
        .alias("y"),
    ).select((F.col("user_id") % 2).alias("variant"), "x", "y")
    per_user = shared_pass(per_user)
    g = per_user.agg(
        F.count("*").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    th = g.select(
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / F.nullif(
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                    "double"
                ),
                F.lit(0.0),
            )
        ).alias("theta"),
        (F.col("sx").cast("double") / F.col("n")).alias("gx"),
    )
    return (
        per_user.crossJoin(F.broadcast(th))
        .groupBy("variant", "theta", "gx")
        .agg(
            F.count("*").cast("bigint").alias("n_users"),
            (F.sum("y").cast("double") / F.count("*")).alias("mean_post_cents"),
            (
                F.sum("y").cast("double") / F.count("*")
                - F.col("theta")
                * (F.sum("x").cast("double") / F.count("*") - F.col("gx"))
            ).alias("adj_post_cents"),
        )
        .select("variant", "n_users", "mean_post_cents", "adj_post_cents")
    )


# ---------------------------------------------------------- diff-in-diff


@query(
    "q_diff_in_diff",
    oracle=f"""
    WITH cells AS (
      SELECT user_id % 2 AS treated,
             CASE WHEN ts < TIMESTAMP '{_SPLIT}' THEN 0 ELSE 1 END AS post,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM events
    ),
    m AS (
      SELECT treated, post,
             CAST(SUM(cents) AS DOUBLE) / COUNT(*) AS mean_cents
      FROM cells GROUP BY treated, post
    )
    SELECT
      MAX(CASE WHEN treated=1 AND post=0 THEN mean_cents END) AS t_pre,
      MAX(CASE WHEN treated=1 AND post=1 THEN mean_cents END) AS t_post,
      MAX(CASE WHEN treated=0 AND post=0 THEN mean_cents END) AS c_pre,
      MAX(CASE WHEN treated=0 AND post=1 THEN mean_cents END) AS c_post,
      (MAX(CASE WHEN treated=1 AND post=1 THEN mean_cents END)
       - MAX(CASE WHEN treated=1 AND post=0 THEN mean_cents END))
      - (MAX(CASE WHEN treated=0 AND post=1 THEN mean_cents END)
         - MAX(CASE WHEN treated=0 AND post=0 THEN mean_cents END))
        AS did_cents
    FROM m
    """,
)
def q_diff_in_diff(spark, sf_dir):
    """Difference-in-differences: the 2×2 (arm × period) cell means
    of per-event spend in exact integer cents, and the DiD estimate
    (treated post-pre delta minus control post-pre delta) — the
    canonical quasi-experimental estimator when assignment isn't
    randomized over time. One corpus aggregate to 4 cells, then a
    4-row pivot fold; each mean is one exact-integer division and
    the estimate a fixed subtraction chain — bit-identical across
    engines. At 100 TB the only shuffle is the (arm, period) partial
    aggregate, map-side combined to 4 rows."""
    ev = t(spark, sf_dir, "events")
    split = F.lit(_SPLIT).cast("timestamp")
    cells = ev.select(
        (F.col("user_id") % 2).alias("treated"),
        F.when(F.col("ts") < split, 0).otherwise(1).alias("post"),
        _cents("value").alias("cents"),
    )
    m = cells.groupBy("treated", "post").agg(
        (F.sum("cents").cast("double") / F.count("*")).alias("mean_cents")
    )

    def cell(tr: int, po: int):
        return F.max(
            F.when(
                (F.col("treated") == tr) & (F.col("post") == po),
                F.col("mean_cents"),
            )
        )

    return m.agg(
        cell(1, 0).alias("t_pre"),
        cell(1, 1).alias("t_post"),
        cell(0, 0).alias("c_pre"),
        cell(0, 1).alias("c_post"),
        ((cell(1, 1) - cell(1, 0)) - (cell(0, 1) - cell(0, 0))).alias(
            "did_cents"
        ),
    )


# ------------------------------------------------------ graph assortativity


@query(
    "q_neighbor_degree",
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT 'c' || o.o_custkey AS c_node, 's' || l.l_suppkey AS s_node
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    edges AS (
      SELECT c_node AS src, s_node AS dst FROM pairs
      UNION ALL SELECT s_node, c_node FROM pairs
    ),
    deg AS (
      SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
      FROM edges GROUP BY src
    ),
    e2 AS (
      SELECT d1.deg AS deg_src, d2.deg AS deg_dst
      FROM edges e
      JOIN deg d1 ON e.src = d1.node
      JOIN deg d2 ON e.dst = d2.node
    )
    SELECT deg_src AS degree, CAST(COUNT(*) AS BIGINT) AS n_endpoints,
           CAST(SUM(deg_dst) AS DOUBLE) / COUNT(*) AS avg_nbr_degree
    FROM e2 GROUP BY deg_src
    """,
)
def q_neighbor_degree(spark, sf_dir):
    """Degree assortativity profile (avg neighbor degree per degree
    class — the knn(k) curve of network science): joins the edge list
    against the degree table on BOTH endpoints and averages the
    neighbor's degree within each source-degree class. A falling
    curve is the disassortative hub-and-spoke signature (expected for
    this bipartite order-flow graph: high-degree suppliers connect to
    low-degree customers). Exact: degrees are integer counts, the
    average one integer-sum division. At 100 TB: degree table is
    node-sized, the two joins shuffle edge partitions by endpoint —
    both equi-joins, both AQE-eligible; the final aggregate collapses
    to the degree-alphabet."""
    from team_02_spark.queries.graph import _edges

    edges = _edges(spark, sf_dir).transform(shared_pass)
    deg = edges.groupBy("src").agg(F.count("*").cast("bigint").alias("deg"))
    deg = shared_pass(deg)
    d1 = deg.select(F.col("src").alias("node"), F.col("deg").alias("deg_src"))
    d2 = deg.select(F.col("src").alias("node"), F.col("deg").alias("deg_dst"))
    e2 = (
        edges.join(d1, edges["src"] == d1["node"])
        .drop("node")
        .join(d2, F.col("dst") == d2["node"])
    )
    return e2.groupBy(F.col("deg_src").alias("degree")).agg(
        F.count("*").cast("bigint").alias("n_endpoints"),
        (F.sum("deg_dst").cast("double") / F.count("*")).alias("avg_nbr_degree"),
    )


# ------------------------------------------------------- compaction lane


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


# ------------------------------------------------------------ CDC apply


@query(
    "q_cdc_apply",
    oracle="""
    WITH chg AS (
      SELECT o_custkey AS key, COUNT(*) AS cnt,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                           AS BIGINT)) AS BIGINT) AS delta_cents,
             CASE WHEN COUNT(*) % 5 = 0 THEN 'D'
                  WHEN COUNT(*) % 5 IN (1, 2) THEN 'U'
                  ELSE 'I' END AS op
      FROM orders GROUP BY o_custkey
    ),
    base AS (
      SELECT c_custkey AS key,
             CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS bal_cents
      FROM customer
    ),
    surviving AS (
      SELECT b.key,
             b.bal_cents + COALESCE(u.delta_cents, 0) AS bal_cents,
             CASE WHEN u.key IS NOT NULL THEN 'updated' ELSE 'kept' END
               AS status
      FROM base b
      LEFT JOIN (SELECT key, delta_cents FROM chg WHERE op = 'U') u
        ON b.key = u.key
      WHERE NOT EXISTS (SELECT 1 FROM chg d
                        WHERE d.op = 'D' AND d.key = b.key)
    )
    SELECT key AS c_custkey, CAST(bal_cents AS BIGINT) AS bal_cents, status
    FROM surviving
    UNION ALL
    SELECT -key AS c_custkey, delta_cents AS bal_cents,
           'inserted' AS status
    FROM chg WHERE op = 'I'
    """,
)
def q_cdc_apply(spark, sf_dir):
    """CDC batch apply with TOMBSTONES — the delete-aware merge that
    q_upsert's insert/update full-outer pattern doesn't cover: a
    deterministic change feed (op I/U/D derived from each customer's
    order count; inserts target fresh keys, updates carry an exact
    integer-cents delta, deletes tombstone the key) folded into the
    snapshot as anti-join(D) + left-join(U) + union(I). This is the
    nightly CDC-ingest shape (Debezium-style feeds): at 100 TB all
    three legs are equi-joins/unions on the snapshot's own key — one
    shuffle each, AQE-eligible, no full rewrite of untouched rows
    beyond the join pass itself."""
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    chg = orders.groupBy(F.col("o_custkey").alias("key")).agg(
        F.count("*").alias("cnt"),
        F.sum(_cents("o_totalprice")).cast("bigint").alias("delta_cents"),
    ).select(
        "key",
        "delta_cents",
        F.when(F.col("cnt") % 5 == 0, "D")
        .when((F.col("cnt") % 5).isin(1, 2), "U")
        .otherwise("I")
        .alias("op"),
    )
    chg = shared_pass(chg)
    base = cust.select(
        F.col("c_custkey").alias("key"), _cents("c_acctbal").alias("bal_cents")
    )
    upd = chg.filter(F.col("op") == "U").select("key", "delta_cents")
    dels = chg.filter(F.col("op") == "D").select("key")
    surviving = (
        base.join(dels, "key", "left_anti")
        .join(upd, "key", "left")
        .select(
            F.col("key").alias("c_custkey"),
            (F.col("bal_cents") + F.coalesce(F.col("delta_cents"), F.lit(0)))
            .cast("bigint")
            .alias("bal_cents"),
            F.when(F.col("delta_cents").isNotNull(), "updated")
            .otherwise("kept")
            .alias("status"),
        )
    )
    # Inserted keys live in the NEGATIVE key space: custkeys are
    # positive at every SF, so novel keys can never collide with a
    # surviving row (a fixed +10M offset collided at SF ≳ 67 — r7
    # advisor finding).
    inserted = chg.filter(F.col("op") == "I").select(
        (-F.col("key")).alias("c_custkey"),
        F.col("delta_cents").cast("bigint").alias("bal_cents"),
        F.lit("inserted").alias("status"),
    )
    return surviving.unionByName(inserted)


# ------------------------------------------------------- robust statistics


@query(
    "q_theil_sen",
    oracle="""
    WITH daily AS (
      SELECT date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE))
               AS t,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                           AS BIGINT)) AS BIGINT) AS rev
      FROM orders GROUP BY 1
    ),
    sl AS (
      SELECT CAST(b.rev - a.rev AS DOUBLE) / (b.t - a.t) AS slope,
             a.t AS t1, b.t AS t2
      FROM daily a JOIN daily b ON a.t < b.t
    ),
    r AS (
      SELECT slope, ROW_NUMBER() OVER (ORDER BY slope, t1, t2) AS rk,
             COUNT(*) OVER () AS n
      FROM sl
    )
    SELECT CAST(n AS BIGINT) AS n_pairs, slope AS sen_slope_cents_per_day
    FROM r WHERE rk = (n + 1) // 2
    """,
)
def q_theil_sen(spark, sf_dir):
    """Theil-Sen robust trend: the discrete lower-median of all
    pairwise slopes of the daily-revenue series — the breakdown-
    point-0.29 alternative to OLS that one bad day can't drag
    (complements q_linreg_group's closed-form OLS and q_trend).
    Each slope is ONE double division of exact integer cents and
    integer day indices, the median a discrete rank-select (never
    interpolated) with a total-order tie-break — bit-identical
    across engines. Scale note: the pair table is CALENDAR²-bounded
    (the daily aggregate collapses the corpus first), so its size is
    constant in corpus volume — ~2.9 M pairs for seven TPC-H years
    regardless of SF; the single-partition rank-select sorts that
    bounded table, same contract as the other global-median lanes."""
    orders = t(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(
            F.datediff(
                F.to_date("o_orderdate"), F.lit("1990-01-01").cast("date")
            ).alias("t")
        )
        .agg(F.sum(_cents("o_totalprice")).cast("bigint").alias("rev"))
    )
    daily = shared_pass(daily)
    a = daily.select(F.col("t").alias("t1"), F.col("rev").alias("r1"))
    b = daily.select(F.col("t").alias("t2"), F.col("rev").alias("r2"))
    sl = a.join(b, F.col("t1") < F.col("t2")).select(
        ((F.col("r2") - F.col("r1")).cast("double") / (F.col("t2") - F.col("t1")))
        .alias("slope"),
        "t1",
        "t2",
    )
    w = Window.orderBy("slope", "t1", "t2")
    r = sl.select(
        "slope",
        F.row_number().over(w).alias("rk"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    return r.filter(F.col("rk") == F.expr("(n + 1) div 2")).select(
        F.col("n").cast("bigint").alias("n_pairs"),
        F.col("slope").alias("sen_slope_cents_per_day"),
    )


@query(
    "q_mann_whitney",
    oracle="""
    WITH v AS (
      SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
             user_id % 2 AS grp
      FROM events
    ),
    by_val AS (
      SELECT cents, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cnt1
      FROM v GROUP BY cents
    ),
    ranked AS (
      SELECT cents, cnt, cnt1,
             COALESCE(CAST(SUM(cnt) OVER (ORDER BY cents
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                      AS BIGINT), 0) AS c_before
      FROM by_val
    ),
    tot AS (
      SELECT CAST(SUM(cnt1) AS BIGINT) AS n1,
             CAST(SUM(cnt - cnt1) AS BIGINT) AS n2,
             CAST(SUM((2 * c_before + cnt + 1) * cnt1) AS BIGINT) AS r1_doubled
      FROM ranked
    )
    SELECT n1, n2,
           CAST(r1_doubled - n1 * (n1 + 1) AS BIGINT) AS u1_doubled,
           CAST(r1_doubled - n1 * (n1 + 1) AS DOUBLE) / (n1 * n2) - 1.0
             AS rank_biserial
    FROM tot
    """,
)
def q_mann_whitney(spark, sf_dir):
    """Mann-Whitney U (Wilcoxon rank-sum), the nonparametric
    two-sample test chi-square/KS don't cover: compares spend
    distributions between the parity arms through ranks, robust to
    any monotone transform of value. Tie handling is the textbook
    average-rank scheme kept EXACT by working in doubled ranks
    (lo+hi is an integer even when the average rank is a half) — the
    U statistic exits as the integer u1_doubled, cross-checked in
    tests against an independent python fold; the rank-biserial
    effect size is one final division. Distribution-by-value first:
    the corpus collapses to the distinct-cents table (bounded by the
    value grid, ~5k rows) before any windowing, so the rank pass is
    alphabet-sized at any corpus scale."""
    ev = t(spark, sf_dir, "events")
    v = ev.select(
        _cents("value").alias("cents"), (F.col("user_id") % 2).alias("grp")
    )
    by_val = v.groupBy("cents").agg(
        F.count("*").cast("bigint").alias("cnt"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("cnt1"),
    )
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    ranked = by_val.select(
        "cnt",
        "cnt1",
        F.coalesce(F.sum("cnt").over(w).cast("bigint"), F.lit(0)).alias(
            "c_before"
        ),
    )
    tot = ranked.agg(
        F.sum("cnt1").cast("bigint").alias("n1"),
        F.sum(F.col("cnt") - F.col("cnt1")).cast("bigint").alias("n2"),
        F.sum((2 * F.col("c_before") + F.col("cnt") + 1) * F.col("cnt1"))
        .cast("bigint")
        .alias("r1_doubled"),
    )
    return tot.select(
        "n1",
        "n2",
        (F.col("r1_doubled") - F.col("n1") * (F.col("n1") + 1))
        .cast("bigint")
        .alias("u1_doubled"),
        (
            (F.col("r1_doubled") - F.col("n1") * (F.col("n1") + 1)).cast(
                "double"
            )
            / (F.col("n1") * F.col("n2"))
            - 1.0
        ).alias("rank_biserial"),
    )


@query(
    "q_hodges_lehmann",
    oracle="""
    WITH v AS (
      SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
             user_id % 2 AS grp
      FROM events
    ),
    g1 AS (SELECT cents, CAST(COUNT(*) AS BIGINT) AS c
           FROM v WHERE grp = 1 GROUP BY cents),
    g0 AS (SELECT cents, CAST(COUNT(*) AS BIGINT) AS c
           FROM v WHERE grp = 0 GROUP BY cents),
    diffs AS (
      SELECT g1.cents - g0.cents AS d, CAST(SUM(g1.c * g0.c) AS BIGINT) AS w
      FROM g1, g0 GROUP BY g1.cents - g0.cents
    ),
    cum AS (
      SELECT d, w,
             CAST(SUM(w) OVER (ORDER BY d
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cw,
             CAST(SUM(w) OVER () AS BIGINT) AS tot
      FROM diffs
    )
    SELECT CAST(tot AS BIGINT) AS n_pairs, d AS hl_shift_cents
    FROM cum WHERE 2 * cw >= tot ORDER BY d LIMIT 1
    """,
)
def q_hodges_lehmann(spark, sf_dir):
    """Hodges-Lehmann shift estimator — the effect-size companion to
    q_mann_whitney: the median of ALL n1×n2 cross-sample differences
    (treated minus control spend). The naive form is a quadratic
    cross join, but because spend lives on the integer-cents grid
    the computation collapses to the GRID: per-group distinct-value
    counts, a grid×grid difference table weighted by count products
    (|grid|² intermediate rows aggregating to the difference
    alphabet), and a weighted discrete median via cumulative weights
    (the q_weighted_median 2·cw >= tot rule). All integers end to
    end. At 100 TB: the corpus collapses to two value-grid tables
    (~5k rows each) in one aggregate pass; everything after is
    alphabet-sized regardless of corpus volume — the same trick that
    keeps q_mann_whitney's rank pass bounded."""
    ev = t(spark, sf_dir, "events")
    v = ev.select(
        _cents("value").alias("cents"), (F.col("user_id") % 2).alias("grp")
    )
    g1 = (
        v.filter(F.col("grp") == 1)
        .groupBy("cents")
        .agg(F.count("*").cast("bigint").alias("c"))
        .select(F.col("cents").alias("c1"), F.col("c").alias("w1"))
    )
    g0 = (
        v.filter(F.col("grp") == 0)
        .groupBy("cents")
        .agg(F.count("*").cast("bigint").alias("c"))
        .select(F.col("cents").alias("c0"), F.col("c").alias("w0"))
    )
    diffs = (
        g1.crossJoin(g0)
        .groupBy((F.col("c1") - F.col("c0")).alias("d"))
        .agg(F.sum(F.col("w1") * F.col("w0")).cast("bigint").alias("w"))
    )
    wc = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.partitionBy()
    cum = diffs.select(
        "d",
        F.sum("w").over(wc).cast("bigint").alias("cw"),
        F.sum("w").over(wt).cast("bigint").alias("tot"),
    )
    return (
        cum.filter(2 * F.col("cw") >= F.col("tot"))
        .orderBy("d")
        .limit(1)
        .select(
            F.col("tot").cast("bigint").alias("n_pairs"),
            F.col("d").alias("hl_shift_cents"),
        )
    )
