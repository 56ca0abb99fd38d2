"""SQL-surface lanes: the SQL constructs beyond plain select / join /
group-by, each in its DataFrame form against a DuckDB oracle that runs
the construct verbatim — QUALIFY-filtered windows, LATERAL VIEW OUTER,
null-safe joins, several COUNT(DISTINCT) in one aggregate, recursive
CTEs, the multiset set ops (EXCEPT ALL / INTERSECT ALL), and a
MATCH_RECOGNIZE-style regex over per-user event sequences.

The engine's queries are DataFrame-built throughout, but the same
plans are reachable through the two other public front doors —
`spark.sql()` over registered views, and Python UDTFs in a LATERAL
join (SURVEY §2.8 U10's table-function slot, here as a real `@udtf`,
not an explode emulation). Both are oracle-checked like every other
declared query: the front door changes, the hash discipline doesn't.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from team_02_spark.queries.registry import query
from team_02_spark.queries._util import dsum_sql, t


@query(
    "q_sql_frontend",
    oracle="""
    WITH ranked AS (
      SELECT o_custkey,
             CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS order_year,
             o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (
               PARTITION BY o_custkey, EXTRACT(year FROM o_orderdate)
               ORDER BY o_totalprice DESC, o_orderkey
             ) AS rn
      FROM orders
    )
    SELECT o_custkey, order_year,
           o_orderkey AS top_orderkey, o_totalprice AS top_price
    FROM ranked WHERE rn = 1
    """,
)
def q_sql_frontend(spark, sf_dir):
    """The SQL front door: each customer's biggest order per year,
    written as a CTE + window in `spark.sql` over a registered view.
    Catalyst plans it identically to the DataFrame form (same
    hashpartitioning exchange, same rank filter) — the declarative
    surface is interchangeable, which is the whole point of building
    on the SQL engine rather than around it."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    return spark.sql(
        """
        WITH ranked AS (
          SELECT o_custkey,
                 year(o_orderdate) AS order_year,
                 o_orderkey, o_totalprice,
                 ROW_NUMBER() OVER (
                   PARTITION BY o_custkey, year(o_orderdate)
                   ORDER BY o_totalprice DESC, o_orderkey
                 ) AS rn
          FROM v_orders
        )
        SELECT o_custkey, order_year,
               o_orderkey AS top_orderkey, o_totalprice AS top_price
        FROM ranked WHERE rn = 1
        """
    )


@query(
    "q_udtf_bigrams",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS tk
      FROM documents
    ),
    idx AS (
      SELECT doc_id, tk, unnest(range(1, len(tk))) AS i FROM toks
    )
    SELECT doc_id, CAST(i - 1 AS INT) AS pos,
           tk[CAST(i AS INT)] || ' ' || tk[CAST(i AS INT) + 1] AS bigram
    FROM idx
    """,
)
def q_udtf_bigrams(spark, sf_dir):
    """A real Python UDTF (Spark 3.5+ table function) in a LATERAL
    join: one input document row fans out to its word bigrams with
    positions. This is the U10 table-function slot exercised through
    the actual `@udtf` machinery — Arrow-batched, executor-side —
    rather than an explode() emulation; the DuckDB twin proves the
    fan-out is exact. Use a UDTF (not explode) when the fan-out logic
    is genuinely imperative — stateful parsers, tokenizers with
    carry-over — which a Column expression can't express."""
    import re

    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, bigram string")
    class Bigrams:
        def eval(self, text: str):
            toks = [w for w in re.split(r"\s+", text or "") if w]
            for i in range(len(toks) - 1):
                yield i, toks[i] + " " + toks[i + 1]

    spark.udtf.register("bigrams_udtf", Bigrams)
    t(spark, sf_dir, "documents").createOrReplaceTempView("v_docs_udtf")
    return spark.sql(
        """
        SELECT d.doc_id, b.pos, b.bigram
        FROM v_docs_udtf d, LATERAL bigrams_udtf(d.text) b
        """
    )


@query(
    "q_variant_props",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN json_extract(props, '$.k') IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_with_k,
           CAST(SUM(CAST(json_extract(props, '$.k') AS INTEGER))
                AS BIGINT) AS sum_k,
           CAST(MIN(CAST(json_extract(props, '$.k') AS INTEGER))
                AS INT) AS min_k,
           CAST(MAX(CAST(json_extract(props, '$.k') AS INTEGER))
                AS INT) AS max_k,
           ROUND(CAST(SUM(CAST(json_extract(props, '$.k') AS INTEGER))
                      AS DOUBLE)
                 / COUNT(CAST(json_extract(props, '$.k') AS INTEGER)),
                 6) AS avg_k
    FROM events GROUP BY event_type
    """,
)
def q_variant_props(spark, sf_dir):
    """Semi-structured ingestion through Spark 4's VARIANT type: the
    events.props JSON payload is parsed ONCE into a binary variant
    (`parse_json`) and fields are extracted with typed
    `variant_get` paths — the shredded, re-parse-free way to query
    ragged JSON at scale (vs per-access `get_json_object` string
    re-parsing, which tokenizes the JSON N times for N fields).
    Mirrors the reference's JSON-ish props handling (reference
    src/main.py event payloads) on the modern codepath. At 100 TB the
    parse is map-side and columnar-pruned; only event_type and props
    are read (ReadSchema), and the aggregate shuffles five numeric
    partials per type."""
    ev = t(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json("props"), "$.k", "int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.when(F.col("k").isNotNull(), 1).otherwise(0))
            .cast("bigint").alias("n_with_k"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.min("k").cast("int").alias("min_k"),
            F.max("k").cast("int").alias("max_k"),
            F.round(
                F.sum("k").cast("double") / F.count("k"), 6
            ).alias("avg_k"),
        )
    )


@query(
    "q_date_spine_fill",
    oracle="""
    WITH RECURSIVE spine(day) AS (
        SELECT DATE '1995-01-01'
        UNION ALL
        SELECT day + INTERVAL 1 DAY FROM spine
        WHERE day < DATE '1995-03-31'
    ),
    daily AS (
        SELECT o_orderdate AS day, COUNT(*) AS n,
               SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
        FROM orders
        WHERE o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1995-03-31'
        GROUP BY o_orderdate
    )
    SELECT CAST(s.day AS DATE) AS day,
           CAST(COALESCE(d.n, 0) AS BIGINT) AS n_orders,
           CAST(COALESCE(d.rev, 0) AS DOUBLE) AS revenue
    FROM spine s LEFT JOIN daily d ON s.day = d.day
    """,
)
def q_date_spine_fill(spark, sf_dir):
    """Gap-filled daily order series via a RECURSIVE CTE date spine
    (Spark 4.0's `WITH RECURSIVE`): every calendar day in Q1-1995
    appears exactly once, zero-filled where no orders landed — the
    time-series densification every dashboard needs, in pure SQL on
    both engines. The recursion generates the ~90-row spine on the
    driver side of the plan (bounded by the date range, NOT by data
    size), and the fact aggregation is a normal pruned scan + one
    shuffle; the spine side is broadcast into the left join. At
    100 TB the spine stays 90 rows — recursion depth is a constant of
    the query, so this is scale-safe where a per-row recursion would
    not be."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("v_orders_spine")
    return spark.sql(
        """
        WITH RECURSIVE spine(day) AS (
            SELECT DATE '1995-01-01'
            UNION ALL
            SELECT date_add(day, 1) FROM spine
            WHERE day < DATE '1995-03-31'
        ),
        daily AS (
            SELECT o_orderdate AS day, COUNT(*) AS n,
                   SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
            FROM v_orders_spine
            WHERE o_orderdate BETWEEN DATE '1995-01-01'
                                  AND DATE '1995-03-31'
            GROUP BY o_orderdate
        )
        SELECT CAST(s.day AS DATE) AS day,
               CAST(COALESCE(d.n, 0) AS BIGINT) AS n_orders,
               CAST(COALESCE(d.rev, 0) AS DOUBLE) AS revenue
        FROM spine s LEFT JOIN daily d ON s.day = d.day
        """
    )


@query(
    "q_qualify_topn",
    oracle="""
    SELECT n.n_name, c.c_custkey, c.c_acctbal,
           CAST(ROW_NUMBER() OVER (PARTITION BY n.n_name
                                   ORDER BY c.c_acctbal DESC,
                                            c.c_custkey) AS INT) AS rnk
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    QUALIFY rnk <= 3
    """,
)
def q_qualify_topn(spark, sf_dir):
    """QUALIFY-style filtered window: top-3 customers per nation by
    account balance, expressed declaratively (window + post-filter —
    the DataFrame form of DuckDB/Snowflake QUALIFY, which the oracle
    uses verbatim). Catalyst folds the filter into the window stage;
    ties break on the key so ranks are total-ordered."""
    cust = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(
        F.col("c_acctbal").desc(), "c_custkey"
    )
    return (
        cust.join(nation, cust.c_nationkey == nation.n_nationkey)
        .select(
            "n_name", "c_custkey", "c_acctbal",
            F.row_number().over(w).cast("int").alias("rnk"),
        )
        .filter(F.col("rnk") <= 3)
    )


@query(
    "q_lateral_outer",
    oracle="""
    WITH arr AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '),
                           x -> length(x) >= 8) AS l
        FROM documents
    )
    SELECT doc_id,
           unnest(CASE WHEN len(l) = 0 THEN [NULL] ELSE l END) AS tok
    FROM arr
    """,
)
def q_lateral_outer(spark, sf_dir):
    """LATERAL VIEW OUTER semantics: explode a per-document array of
    rare (>= 8-char) tokens, KEEPING documents whose array is empty as
    a NULL row — `explode_outer`, the DataFrame form of
    `LATERAL VIEW OUTER explode`. The oracle emulates OUTER in DuckDB
    by substituting [NULL] for empty lists before unnest."""
    docs = t(spark, sf_dir, "documents")
    arr = F.filter(
        F.split(F.col("text"), " "), lambda x: F.length(x) >= 8
    )
    return docs.select(
        "doc_id", F.explode_outer(arr).alias("tok")
    )


@query(
    "q_null_safe_join",
    oracle="""
    WITH lhs AS (
        SELECT c_custkey, NULLIF(c_mktsegment, 'BUILDING') AS seg
        FROM customer
    ),
    rhs AS (
        SELECT NULLIF(c_mktsegment, 'BUILDING') AS seg,
               COUNT(*) AS seg_n
        FROM customer GROUP BY NULLIF(c_mktsegment, 'BUILDING')
    )
    SELECT l.c_custkey, l.seg, r.seg_n
    FROM lhs l JOIN rhs r ON l.seg IS NOT DISTINCT FROM r.seg
    """,
)
def q_null_safe_join(spark, sf_dir):
    """Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    match NULL keys instead of dropping, the semantics ETL needs when
    a sentinel category is nulled out upstream. Still a hash-
    partitionable equi-join at scale — null-safe equality is a valid
    shuffle key (all NULLs co-locate)."""
    cust = t(spark, sf_dir, "customer")
    seg = F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg")
    lhs = cust.select("c_custkey", seg)
    rhs = cust.select(seg).groupBy("seg").agg(F.count("*").alias("seg_n"))
    return (
        lhs.alias("l")
        .join(rhs.alias("r"), F.col("l.seg").eqNullSafe(F.col("r.seg")))
        .select("c_custkey", "l.seg", "seg_n")
    )


@query(
    "q_multi_distinct",
    oracle=f"""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS nd_part,
           COUNT(DISTINCT l_suppkey) AS nd_supp,
           COUNT(DISTINCT l_orderkey) AS nd_order,
           COUNT(*) AS n_rows,
           {dsum_sql('l_extendedprice')} AS revenue
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_multi_distinct(spark, sf_dir):
    """Several COUNT(DISTINCT) over different columns in ONE aggregate
    — Catalyst plans this with a single Expand (one pass over the
    input fans each row out per distinct-column) instead of N self-
    joins; the plain count/sum ride along in the same job."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("nd_part"),
        F.count_distinct("l_suppkey").alias("nd_supp"),
        F.count_distinct("l_orderkey").alias("nd_order"),
        F.count("*").alias("n_rows"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,4)"))
        .cast("double").alias("revenue"),
    )


@query(
    "q_recursive_cte",
    oracle="""
    WITH RECURSIVE spine(mon) AS (
        SELECT DATE '1995-01-01'
        UNION ALL
        SELECT CAST(mon + INTERVAL 1 MONTH AS DATE) FROM spine
        WHERE mon < DATE '2001-12-01'
    ),
    rev AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS cents
        FROM orders GROUP BY 1
    )
    SELECT s.mon, COALESCE(r.n_orders, 0) AS n_orders,
           COALESCE(r.cents, 0) AS cents
    FROM spine s LEFT JOIN rev r ON s.mon = r.mon
    """,
)
def q_recursive_cte(spark, sf_dir):
    """Recursive CTE (Spark 4 WITH RECURSIVE): generate the 1995-2001
    month spine recursively, then left-join monthly order revenue so
    gap months surface as explicit zeros. The recursion is the tiny
    (84-row) side — the order aggregate stays a distributed group-by
    and the join broadcasts the spine."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders_v_r7")
    return spark.sql("""
        WITH RECURSIVE spine(mon) AS (
            SELECT DATE '1995-01-01'
            UNION ALL
            SELECT CAST(mon + INTERVAL '1' MONTH AS DATE) FROM spine
            WHERE mon < DATE '2001-12-01'
        ),
        rev AS (
            SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
                   COUNT(*) AS n_orders,
                   CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                                 AS BIGINT)) AS BIGINT) AS cents
            FROM orders_v_r7 GROUP BY 1
        )
        SELECT s.mon, COALESCE(r.n_orders, 0) AS n_orders,
               COALESCE(r.cents, 0) AS cents
        FROM spine s LEFT JOIN rev r ON s.mon = r.mon
    """)


@query(
    "q_except_all",
    oracle="""
    SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'
    EXCEPT ALL
    SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A'
    """,
)
def q_except_all(spark, sf_dir):
    """Multiset EXCEPT ALL (bag difference — each duplicate survives
    count_R - count_A times), the ALL-variant the distinct q_except
    lane doesn't cover. Catalyst plans it as a counted anti-semantics
    aggregate, one shuffle per side."""
    li = t(spark, sf_dir, "lineitem")
    r = li.filter(F.col("l_returnflag") == "R").select("l_partkey")
    a = li.filter(F.col("l_returnflag") == "A").select("l_partkey")
    return r.exceptAll(a)


@query(
    "q_intersect_all",
    oracle="""
    SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'
    INTERSECT ALL
    SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A'
    """,
)
def q_intersect_all(spark, sf_dir):
    """Multiset INTERSECT ALL (bag intersection — min(count_R,
    count_A) copies per value), completing the set-op family's ALL
    variants."""
    li = t(spark, sf_dir, "lineitem")
    r = li.filter(F.col("l_returnflag") == "R").select("l_partkey")
    a = li.filter(F.col("l_returnflag") == "A").select("l_partkey")
    return r.intersectAll(a)


@query(
    "q_match_recognize",
    oracle="""
    WITH j AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), ''
                        ORDER BY ts, event_id) AS journey
      FROM events GROUP BY user_id
    )
    SELECT user_id, journey, CAST(LENGTH(journey) AS INT) AS n_events,
           regexp_matches(journey, 'v[^e]*p') AS matched,
           regexp_extract(journey, 'v[^e]*p') AS first_span
    FROM j
    """,
)
def q_match_recognize(spark, sf_dir):
    """MATCH_RECOGNIZE-style sequence pattern over per-user journeys
    (the Flink/Trino CEP shape Spark's DataFrame API lacks): encode
    each user's time-ordered event stream as a compact symbol string
    (one char per event, tie-broken by event_id), then run the
    pattern `view (not-error)* purchase` as a regex — `matched` flags
    conversion-without-error journeys and `first_span` extracts the
    leftmost witness. Leftmost-greedy semantics agree between Java
    regex (Spark) and RE2 (DuckDB) for this class of pattern
    (verified against python re on the fixture). The per-key
    sequence-fits-in-memory assumption is MATCH_RECOGNIZE's own
    partition contract; at 100 TB the single shuffle is by user_id
    and the regex runs JVM-side per aggregated row — no UDF, no
    driver state."""
    ev = t(spark, sf_dir, "events")
    item = F.struct(
        F.col("ts"), F.col("event_id"), F.substring("event_type", 1, 1).alias("ch")
    )
    j = (
        ev.groupBy("user_id")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list(item)), lambda x: x["ch"]
                ),
            ).alias("journey")
        )
    )
    pat = "v[^e]*p"
    return j.select(
        "user_id",
        "journey",
        F.length("journey").cast("int").alias("n_events"),
        F.col("journey").rlike(pat).alias("matched"),
        F.regexp_extract("journey", pat, 0).alias("first_span"),
    )
