"""Round-2 tail lanes: hybrid retrieval (RRF fusion of the lexical
BM25 lane with the semantic vector lane), a pure time-range join run
through the bucketed rewrite (operators/scale.py::binned_range_join),
and a dbt-test-style data-expectations report.

These extend the search/vector lanes the reference motivates (its
pipeline retrieves, embeds, and scores tweets — src/main.py:133-160)
into the composite retrieval stack a RAG/training-data pipeline
actually deploys: lexical + semantic candidate generation fused by
reciprocal-rank, the attribution join that has no equi key, and the
validation gate run before any corpus ships.

Scale posture:
- q_rrf_hybrid: each lane independently reduces to a top-50 candidate
  list via orderBy+limit (TakeOrderedAndProject — never a global
  window sort); the rank windows and the fusion full-outer join run
  on <= 50-row sets.
- q_window_attribution: the range join shuffles by time bin, not
  all-pairs (see binned_range_join docstring).
- q_expectations: one map-side-combined pass per table (conditional
  sums unpivoted via stack), plus one broadcast left join for the
  referential check — 6 rules, zero wide shuffles.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from team_02_spark.functions.vectors import cosine
from team_02_spark.operators.scale import binned_range_join
from team_02_spark.queries.registry import query
from team_02_spark.queries._util import dsum, dsum_sql, t
from team_02_spark.queries.text_queries import BM25_CTES_SQL, bm25_scores
from team_02_spark.queries.vector_queries import COS_SQL

# RRF constant (Cormack/Clarke/Buettcher 2009): 1/(K + rank).
_RRF_K = 60
_LANE_TOPK = 50


@query(
    "q_rrf_hybrid",
    oracle=f"""
    WITH {BM25_CTES_SQL},
    lex AS (
        SELECT doc_id,
               CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS INT)
                   AS lex_rank
        FROM bm25
    ),
    sem_scored AS (
        SELECT c.vec_id AS doc_id, ROUND({COS_SQL}, 6) AS score
        FROM embeddings c,
             (SELECT vec_id, embedding FROM embeddings WHERE vec_id = 0) q
        WHERE c.vec_id <> 0
    ),
    sem AS (
        SELECT doc_id,
               CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INT)
                   AS sem_rank
        FROM sem_scored
    )
    SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
           l.lex_rank, s.sem_rank,
           COALESCE(1.0 / ({_RRF_K} + l.lex_rank), 0.0)
         + COALESCE(1.0 / ({_RRF_K} + s.sem_rank), 0.0) AS rrf
    FROM (SELECT * FROM lex WHERE lex_rank <= {_LANE_TOPK}) l
    FULL JOIN (SELECT * FROM sem WHERE sem_rank <= {_LANE_TOPK}) s
      ON l.doc_id = s.doc_id
    ORDER BY rrf DESC, doc_id
    LIMIT 20
    """,
)
def q_rrf_hybrid(spark, sf_dir):
    """Hybrid retrieval: reciprocal-rank fusion of the BM25 lexical
    ranking over `documents` and the cosine semantic ranking over
    `embeddings` (the two tables share the 0..N id space). Each lane
    keeps its top-50 via orderBy+limit (TakeOrderedAndProject at any
    scale), ranks the surviving candidates with a <=50-row window,
    and the fusion is a full-outer join of two tiny lists — a doc
    found by only one lane still scores via COALESCE(..., 0).

    Determinism: BM25 is rounded to 4dp and cosine to 6dp BEFORE
    ranking with an id tiebreak, so ranks match across engines;
    1/(60+rank) on identical int ranks is the identical IEEE double
    on both engines, so rrf needs no rounding."""
    lex_scores = bm25_scores(spark, sf_dir)
    w_lex = Window.orderBy(F.desc("bm25"), "doc_id")
    lex = (
        lex_scores.orderBy(F.desc("bm25"), "doc_id")
        .limit(_LANE_TOPK)
        .select(
            "doc_id", F.row_number().over(w_lex).cast("int").alias("lex_rank")
        )
    )
    emb = t(spark, sf_dir, "embeddings")
    probe = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_vec")
    )
    sem_scored = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(probe))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(cosine(F.col("q_vec"), F.col("embedding")), 6).alias("score"),
        )
    )
    w_sem = Window.orderBy(F.desc("score"), "doc_id")
    sem = (
        sem_scored.orderBy(F.desc("score"), "doc_id")
        .limit(_LANE_TOPK)
        .select(
            "doc_id", F.row_number().over(w_sem).cast("int").alias("sem_rank")
        )
    )
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(_RRF_K) + F.col("lex_rank")), F.lit(0.0)
    ) + F.coalesce(F.lit(1.0) / (F.lit(_RRF_K) + F.col("sem_rank")), F.lit(0.0))
    return (
        lex.join(sem, "doc_id", "full_outer")
        .select("doc_id", "lex_rank", "sem_rank", rrf.alias("rrf"))
        .orderBy(F.desc("rrf"), "doc_id")
        .limit(20)
    )


_WIN_US = 7_200_000_000  # 2-hour attribution window, microseconds


@query(
    "q_window_attribution",
    oracle=f"""
    WITH w AS (
        SELECT event_id AS window_id,
               epoch_us(ts) AS lo,
               epoch_us(ts) + {_WIN_US} AS hi
        FROM events
        WHERE event_type = 'signup' AND event_id % 40 = 0
    )
    SELECT w.window_id,
           COUNT(*) AS n_events,
           {dsum_sql('e.value')} AS total_value
    FROM w
    JOIN events e ON epoch_us(e.ts) >= w.lo AND epoch_us(e.ts) <= w.hi
    GROUP BY w.window_id
    """,
)
def q_window_attribution(spark, sf_dir):
    """Campaign-window attribution: every sampled signup opens a 2-hour
    window; count and value-sum ALL events (any user) inside it. There
    is deliberately NO equi key — the naive plan is a nested-loop
    scan of |windows| x |events| — so this runs through
    binned_range_join: both sides bucket on the 2-hour time bin,
    equi-join on the bin id, exact bound as residual. Timestamps
    compare as integer microsecond epochs (unix_micros ≡ epoch_us,
    FIXTURES.md) so the window edges are exact on both engines."""
    ev = t(spark, sf_dir, "events")
    win = (
        ev.filter((F.col("event_type") == "signup") & (F.col("event_id") % 40 == 0))
        .select(
            F.col("event_id").alias("window_id"),
            F.unix_micros("ts").alias("lo"),
            (F.unix_micros("ts") + F.lit(_WIN_US)).alias("hi"),
        )
    )
    pts = ev.select(F.unix_micros("ts").alias("pt"), "value")
    joined = binned_range_join(win, pts, "lo", "hi", "pt", bin_width=_WIN_US)
    return joined.groupBy("window_id").agg(
        F.count("*").alias("n_events"),
        dsum("value").alias("total_value"),
    )


@query(
    "q_expectations",
    oracle="""
    SELECT 'lineitem.quantity_nonpositive' AS rule, COUNT(*) AS n_checked,
           CAST(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violations
    FROM lineitem
    UNION ALL
    SELECT 'lineitem.discount_above_policy', COUNT(*),
           CAST(SUM(CASE WHEN l_discount > 0.06 THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'orders.status_invalid', COUNT(*),
           CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
                    THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'orders.custkey_orphan', COUNT(*),
           CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    UNION ALL
    SELECT 'customer.custkey_duplicate', COUNT(*),
           COUNT(*) - COUNT(DISTINCT c_custkey)
    FROM customer
    UNION ALL
    SELECT 'documents.text_short', COUNT(*),
           CAST(SUM(CASE WHEN n_chars < 100 THEN 1 ELSE 0 END) AS BIGINT)
    FROM documents
    """,
)
def q_expectations(spark, sf_dir):
    """Data-expectations report (the dbt-test / Great-Expectations
    shape): each rule emits (rule, n_checked, n_violations). Per-table
    rules share ONE aggregate pass (conditional sums, map-side
    combined) unpivoted with stack(); the referential-integrity rule
    is a single broadcast left join. At 100 TB this is the cheapest
    possible validation gate — no rule adds a second scan of any
    table."""
    li = t(spark, sf_dir, "lineitem")
    li_rules = li.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("l_quantity") <= 0, 1).otherwise(0)).alias("v_qty"),
        F.sum(F.when(F.col("l_discount") > 0.06, 1).otherwise(0)).alias("v_disc"),
    ).select(
        F.expr(
            "stack(2, 'lineitem.quantity_nonpositive', n, v_qty, "
            "'lineitem.discount_above_policy', n, v_disc) "
            "AS (rule, n_checked, n_violations)"
        )
    )
    orders = t(spark, sf_dir, "orders")
    status_rule = orders.agg(
        F.lit("orders.status_invalid").alias("rule"),
        F.count("*").alias("n_checked"),
        F.sum(
            F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0)
        ).alias("n_violations"),
    )
    cust = t(spark, sf_dir, "customer")
    orphan_rule = (
        orders.join(
            # referential-integrity probe: key-only projection of
            # customer; customer scales with SF, so no forced
            # broadcast — AQE picks one while the projection is small
            cust.select("c_custkey"),
            orders["o_custkey"] == F.col("c_custkey"),
            "left",
        )
        .agg(
            F.lit("orders.custkey_orphan").alias("rule"),
            F.count("*").alias("n_checked"),
            F.sum(F.when(F.col("c_custkey").isNull(), 1).otherwise(0)).alias(
                "n_violations"
            ),
        )
    )
    dup_rule = cust.agg(
        F.lit("customer.custkey_duplicate").alias("rule"),
        F.count("*").alias("n_checked"),
        (F.count("*") - F.countDistinct("c_custkey")).alias("n_violations"),
    )
    docs = t(spark, sf_dir, "documents")
    short_rule = docs.agg(
        F.lit("documents.text_short").alias("rule"),
        F.count("*").alias("n_checked"),
        F.sum(F.when(F.col("n_chars") < 100, 1).otherwise(0)).alias("n_violations"),
    )
    return li_rules.unionByName(status_rule).unionByName(orphan_rule).unionByName(
        dup_rule
    ).unionByName(short_rule)


@query(
    "q_column_stats",
    oracle="""
    SELECT 'o_orderkey' AS col_name,
           CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_nulls,
           COUNT(DISTINCT o_orderkey) AS n_distinct,
           CAST(MIN(o_orderkey) AS DOUBLE) AS min_v,
           CAST(MAX(o_orderkey) AS DOUBLE) AS max_v
    FROM orders
    UNION ALL
    SELECT 'o_custkey',
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           COUNT(DISTINCT o_custkey),
           CAST(MIN(o_custkey) AS DOUBLE), CAST(MAX(o_custkey) AS DOUBLE)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice',
           CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           COUNT(DISTINCT o_totalprice),
           MIN(o_totalprice), MAX(o_totalprice)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus',
           CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           COUNT(DISTINCT o_orderstatus),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority',
           CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           COUNT(DISTINCT o_orderpriority),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
    FROM orders
    """,
)
def q_column_stats(spark, sf_dir):
    """ANALYZE-TABLE-style column profile in ONE table pass: per
    column, null count, exact NDV, and numeric min/max (strings emit
    NULL bounds — cross-engine double↔string formatting is not
    portable, so bounds stay typed). The multi-column COUNT(DISTINCT)
    plans as Catalyst's expand (rows × #distinct-aggs with map-side
    partials) — the standard exact-ANALYZE trade; at 100 TB swap in
    approx_count_distinct per column and the pass becomes a plain
    single-agg scan. The stack() unpivot keeps one row per column in
    the report, same shape as q_expectations."""
    orders = t(spark, sf_dir, "orders")

    def nn(c):
        return F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))

    stats = orders.agg(
        *[nn(c).alias(f"nn_{c}") for c in (
            "o_orderkey", "o_custkey", "o_totalprice",
            "o_orderstatus", "o_orderpriority",
        )],
        *[F.countDistinct(c).alias(f"nd_{c}") for c in (
            "o_orderkey", "o_custkey", "o_totalprice",
            "o_orderstatus", "o_orderpriority",
        )],
        *[F.min(c).cast("double").alias(f"mn_{c}") for c in (
            "o_orderkey", "o_custkey", "o_totalprice",
        )],
        *[F.max(c).cast("double").alias(f"mx_{c}") for c in (
            "o_orderkey", "o_custkey", "o_totalprice",
        )],
    )
    return stats.select(
        F.expr(
            "stack(5, "
            "'o_orderkey', nn_o_orderkey, nd_o_orderkey, mn_o_orderkey, mx_o_orderkey, "
            "'o_custkey', nn_o_custkey, nd_o_custkey, mn_o_custkey, mx_o_custkey, "
            "'o_totalprice', nn_o_totalprice, nd_o_totalprice, mn_o_totalprice, mx_o_totalprice, "
            "'o_orderstatus', nn_o_orderstatus, nd_o_orderstatus, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), "
            "'o_orderpriority', nn_o_orderpriority, nd_o_orderpriority, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)"
            ") AS (col_name, n_nulls, n_distinct, min_v, max_v)"
        )
    )


@query(
    "q_join_health",
    oracle="""
    WITH l AS (
        SELECT l_orderkey AS k, COUNT(*) AS n FROM lineitem GROUP BY k
    ),
    orphans AS (
        SELECT COUNT(*) AS line_orphan_keys
        FROM l WHERE NOT EXISTS (
            SELECT 1 FROM orders o WHERE o.o_orderkey = l.k
        )
    )
    SELECT COUNT(*) AS n_orders,
           CAST(SUM(COALESCE(l.n, 0)) AS BIGINT) AS n_matched_lines,
           CAST(SUM(CASE WHEN l.n IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS orders_without_lines,
           MAX(COALESCE(l.n, 0)) AS max_fanout,
           ROUND(CAST(SUM(COALESCE(l.n, 0)) AS DOUBLE) / COUNT(*), 6)
             AS avg_fanout,
           (SELECT line_orphan_keys FROM orphans) AS line_orphan_keys
    FROM orders o LEFT JOIN l ON o.o_orderkey = l.k
    """,
)
def q_join_health(spark, sf_dir):
    """Join-health profile for the orders↔lineitem key: per-key
    fan-out distribution (max/avg), orders with no lines, and lineitem
    keys with no order — the diagnosis run BEFORE a 100 TB join to
    predict output volume and catch referential rot (complements
    q_key_skew's hot-key view and q_expectations' pass/fail gate).

    One pass over lineitem collapses it to per-key counts (map-side
    combined); orders left-joins that dimension-sized relation; the
    orphan count is an anti-join on the same aggregate, and the two
    scalar rows meet in a broadcast cross join — the fact tables are
    each scanned exactly once."""
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    l_counts = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count("*").alias("n")
    )
    main = (
        orders.join(l_counts, orders["o_orderkey"] == l_counts["k"], "left")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.coalesce(F.col("n"), F.lit(0)))
            .cast("bigint").alias("n_matched_lines"),
            F.sum(F.when(F.col("n").isNull(), 1).otherwise(0))
            .cast("bigint").alias("orders_without_lines"),
            F.max(F.coalesce(F.col("n"), F.lit(0))).alias("max_fanout"),
            F.round(
                F.sum(F.coalesce(F.col("n"), F.lit(0))).cast("double")
                / F.count("*"), 6
            ).alias("avg_fanout"),
        )
    )
    orphans = (
        l_counts.join(
            orders.select("o_orderkey"),
            l_counts["k"] == F.col("o_orderkey"),
            "left_anti",
        )
        .agg(F.count("*").alias("line_orphan_keys"))
    )
    return main.crossJoin(F.broadcast(orphans))


@query(
    "q_join_size_est",
    oracle=r"""
    WITH ka AS (SELECT CAST(o_custkey AS VARCHAR) AS v FROM orders),
    kb AS (SELECT CAST(c_custkey AS VARCHAR) AS v FROM customer),
    ca AS (
        SELECT i AS depth,
               ('0x' || substr(md5(v), 4 * i + 1, 4))::BIGINT % 8192
                 AS bucket,
               CAST(COUNT(*) AS BIGINT) AS cnt_a
        FROM ka, range(0, 5) r(i) GROUP BY 1, 2
    ),
    cb AS (
        SELECT i AS depth,
               ('0x' || substr(md5(v), 4 * i + 1, 4))::BIGINT % 8192
                 AS bucket,
               CAST(COUNT(*) AS BIGINT) AS cnt_b
        FROM kb, range(0, 5) r(i) GROUP BY 1, 2
    ),
    per_depth AS (
        SELECT ca.depth, SUM(ca.cnt_a * cb.cnt_b) AS s
        FROM ca JOIN cb USING (depth, bucket)
        GROUP BY ca.depth
    ),
    est AS (
        SELECT CAST(MIN(COALESCE(p.s, 0)) AS BIGINT) AS est_pairs
        FROM (SELECT DISTINCT depth FROM ca) d
        LEFT JOIN per_depth p USING (depth)
    ),
    exact AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS exact_pairs
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    )
    SELECT est_pairs, exact_pairs,
           CAST(est_pairs - exact_pairs AS BIGINT) AS overestimate
    FROM est, exact
    """,
)
def q_join_size_est(spark, sf_dir):
    """Join-cardinality estimation from mergeable count-min sketches
    (operators/sketches.cms_join_size): sketch the orders.o_custkey
    and customer.c_custkey streams independently (one map-side-
    combined pass each, <= d*w counter rows per side), then estimate
    |orders JOIN customer| as the min-over-depths bucket inner
    product — the planner's pre-flight answer to "how big is this
    join?" with NEITHER side rescanned nor joined. The exact count is
    computed alongside so the (one-sided) sketch error is visible;
    at 100 TB the sketches come from ingest-shard partials merged by
    sum (merge_cms), and the estimate costs d*w multiplies. Portable
    md5-chunk hashing makes the whole pipeline engine-exact, hence
    the DuckDB hash-match."""
    from team_02_spark.operators.sketches import (
        cms_join_size, merge_cms, shard_cms,
    )

    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    cms_a = merge_cms(
        shard_cms(orders.select(F.col("o_custkey").alias("v")),
                  keys=[], value="v"),
        keys=[],
    )
    cms_b = merge_cms(
        shard_cms(cust.select(F.col("c_custkey").alias("v")),
                  keys=[], value="v"),
        keys=[],
    )
    est = cms_join_size(cms_a, cms_b)
    exact = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .agg(F.count("*").cast("bigint").alias("exact_pairs"))
    )
    return est.crossJoin(F.broadcast(exact)).select(
        "est_pairs", "exact_pairs",
        (F.col("est_pairs") - F.col("exact_pairs")).cast("bigint")
        .alias("overestimate"),
    )
