"""Statistical / data-quality analytics lanes: gaps-and-islands
streaks, churn, Benford digit audit, market concentration (HHI),
bigram language-model scoring, autocorrelation, Spearman rank
correlation, chi-square independence cells, per-key mode,
inter-purchase gaps, readability scoring, exact moments and
correlation matrices from integer power sums, rolling correlation,
IQR outlier fences, experiment readouts (CUPED, difference-in-
differences) and robust statistics (Theil-Sen, Mann-Whitney U,
Hodges-Lehmann).

Reference scope: /root/reference/src/main.py only ever counts raw
events and rows (133-160); these are the statistical audits a
practitioner runs on the same tables before trusting them as training
inputs — distributional sanity (Benford, chi-square), concentration
(HHI, Pareto's sibling), temporal structure (streaks, churn,
autocorrelation), and corpus quality (bigram LM, readability).

Scale posture: every lane is one or two keyed shuffles (window on a
user/customer/day key, or a group-by on a bounded alphabet). The
bigram-LM lane's count tables are vocabulary-sized, never corpus-
sized; no lane self-joins the fact table.

Determinism discipline (FIXTURES.md §C): ratios exit as scaled
integers via `DIV` (Spark) ≡ `//` (DuckDB); money is BIGINT cents;
moment sums go through exact DECIMAL; windowed integer sums in the
oracles are wrapped `CAST(.. AS BIGINT)` against DuckDB's HUGEINT
promotion; rank tie-breaks are total orders.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from team_02_spark.queries.registry import query
from team_02_spark.queries._util import t, to_cents
from team_02_spark.util import shared_pass

# Portable epoch-day number: Spark datediff(day, 1970-01-01) ==
# DuckDB date_diff('day', DATE '1970-01-01', day) — integer days,
# no timezone surface (both sides truncate the same UTC-pinned ts).
_DAYNUM_SQL = "date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))"


@query(
    "q_gaps_islands",
    oracle=f"""
    WITH days AS (
        SELECT DISTINCT user_id, {_DAYNUM_SQL} AS day_num FROM events
    ),
    isl AS (
        SELECT user_id, day_num,
               day_num - ROW_NUMBER() OVER (PARTITION BY user_id
                                            ORDER BY day_num) AS island
        FROM days
    ),
    per_island AS (
        SELECT user_id, island, COUNT(*) AS len FROM isl
        GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(SUM(len) AS BIGINT) AS n_active_days,
           COUNT(*) AS n_islands,
           CAST(MAX(len) AS BIGINT) AS longest_streak
    FROM per_island GROUP BY user_id
    """,
)
def q_gaps_islands(spark, sf_dir):
    """Gaps-and-islands: per user, runs of consecutive active days
    (day_num - row_number is constant within a run). One shuffle keyed
    on user_id; the island aggregate reuses the same partitioning.
    All outputs are exact integers."""
    ev = t(spark, sf_dir, "events")
    days = ev.select(
        "user_id",
        F.datediff(F.to_date("ts"), F.to_date(F.lit("1970-01-01"))).alias(
            "day_num"
        ),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day_num")
    isl = days.withColumn("island", F.col("day_num") - F.row_number().over(w))
    per_island = isl.groupBy("user_id", "island").agg(F.count("*").alias("len"))
    return per_island.groupBy("user_id").agg(
        F.sum("len").cast("bigint").alias("n_active_days"),
        F.count("*").alias("n_islands"),
        F.max("len").cast("bigint").alias("longest_streak"),
    )


@query(
    "q_churn_rate",
    oracle="""
    WITH cutoff AS (
        SELECT MAX(ts) - INTERVAL 7 DAY AS c FROM events
    ),
    prior AS (
        SELECT DISTINCT user_id FROM events, cutoff WHERE ts < c
    ),
    recent AS (
        SELECT DISTINCT user_id FROM events, cutoff WHERE ts >= c
    ),
    churned AS (
        SELECT user_id FROM prior
        EXCEPT SELECT user_id FROM recent
    )
    SELECT (SELECT COUNT(*) FROM prior)   AS n_prior,
           (SELECT COUNT(*) FROM recent)  AS n_recent,
           (SELECT COUNT(*) FROM churned) AS n_churned,
           (SELECT COUNT(*) FROM churned) * 10000
             // GREATEST((SELECT COUNT(*) FROM prior), 1) AS churn_bp
    """,
)
def q_churn_rate(spark, sf_dir):
    """Churn audit: users active before the final 7-day window who
    never return inside it. The cutoff is max(ts) - 7 days (exact
    integer-microsecond arithmetic, engine-identical); the rate exits
    as integer basis points via DIV — no double is produced.

    ONE events pass: the broadcast 1-row cutoff tags each event, a
    per-user aggregate folds to two booleans (any-prior, any-recent),
    and the three counts are conditional sums over the user-sized
    table — 2 shuffles total (user_id agg + final fold), vs the
    naive three-distinct-sets + EXCEPT form's 11."""
    ev = t(spark, sf_dir, "events")
    cutoff = ev.agg((F.max("ts") - F.expr("INTERVAL 7 DAYS")).alias("c"))
    per_user = (
        ev.crossJoin(F.broadcast(cutoff))
        .groupBy("user_id")
        .agg(
            F.max(F.col("ts") < F.col("c")).alias("prior"),
            F.max(F.col("ts") >= F.col("c")).alias("recent"),
        )
    )
    return per_user.agg(
        F.count_if("prior").alias("n_prior"),
        F.count_if("recent").alias("n_recent"),
        F.count_if(F.col("prior") & ~F.col("recent")).alias("n_churned"),
    ).select(
        "n_prior",
        "n_recent",
        "n_churned",
        # GREATEST guard: empty input folds to n_prior = 0, which must
        # yield churn_bp 0, not an ANSI DIVIDE_BY_ZERO kill.
        F.expr("n_churned * 10000 DIV GREATEST(n_prior, 1)").alias("churn_bp"),
    )


@query(
    "q_benford",
    oracle="""
    WITH digits AS (
        SELECT CAST(SUBSTRING(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                                   AS VARCHAR), 1, 1) AS BIGINT) AS digit
        FROM orders WHERE o_totalprice >= 1
    ),
    counted AS (
        SELECT digit, COUNT(*) AS n FROM digits GROUP BY digit
    )
    SELECT digit, n,
           CAST((n * 10000) // CAST(SUM(n) OVER () AS BIGINT)
                AS BIGINT) AS freq_bp
    FROM counted
    """,
)
def q_benford(spark, sf_dir):
    """Benford first-digit audit on order totals — the classic
    fabricated-data screen. The leading digit is read off the exact
    DECIMAL(18,2) string form (both engines print plain positional
    notation for DECIMAL; the >= 1 guard excludes any '0.' prefix, and
    the fixture's minimum price is ~1013). Frequencies exit as integer
    basis points. One tiny (<=9 group) aggregate."""
    orders = t(spark, sf_dir, "orders")
    digits = orders.filter(F.col("o_totalprice") >= 1).select(
        F.substring(
            F.col("o_totalprice").cast("decimal(18,2)").cast("string"), 1, 1
        )
        .cast("bigint")
        .alias("digit")
    )
    counted = digits.groupBy("digit").agg(F.count("*").alias("n"))
    return counted.withColumn(
        "freq_bp",
        F.expr("n * 10000 DIV CAST(SUM(n) OVER () AS BIGINT)").cast("bigint"),
    )


@query(
    "q_hhi",
    oracle="""
    WITH rev AS (
        SELECT n.n_name, c.c_mktsegment,
               CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS seg_cents
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name, c.c_mktsegment
    ),
    shares AS (
        SELECT n_name,
               seg_cents * 10000
                 // CAST(SUM(seg_cents) OVER (PARTITION BY n_name)
                         AS BIGINT) AS share_bp
        FROM rev
    )
    SELECT n_name,
           COUNT(*) AS n_segments,
           CAST(SUM(share_bp * share_bp) AS BIGINT) // 10000 AS hhi_bp
    FROM shares GROUP BY n_name
    """,
)
def q_hhi(spark, sf_dir):
    """Herfindahl-Hirschman concentration of order revenue across
    market segments, per nation — the concentration screen next to
    q_pareto/q_gini. Money is exact BIGINT cents; shares and the index
    exit as floor-DIV basis points (no double anywhere). The dims
    (customer, nation) broadcast under AQE; the only fact-table
    shuffle is the (nation, segment) aggregate over a 125-key space."""
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    cents = F.expr(
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
    )
    rev = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name", "c_mktsegment")
        .agg(F.sum(cents).cast("bigint").alias("seg_cents"))
    )
    wn = Window.partitionBy("n_name")
    shares = rev.select(
        "n_name",
        F.expr(
            "seg_cents * 10000 DIV CAST(SUM(seg_cents) "
            "OVER (PARTITION BY n_name) AS BIGINT)"
        ).alias("share_bp"),
    )
    return shares.groupBy("n_name").agg(
        F.count("*").alias("n_segments"),
        F.expr("CAST(SUM(share_bp * share_bp) AS BIGINT) DIV 10000").alias(
            "hhi_bp"
        ),
    )


# Whitespace tokens, lowercased — the q_vocab_coverage tokenization
# (simpler than clean_tokens: the LM wants raw surface forms).
_WS_TOKS_SQL = (
    "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"
)


@query(
    "q_bigram_lm",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_WS_TOKS_SQL} AS tk FROM documents
    ),
    pairs AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(tk)),
                      i -> {{'w1': tk[CAST(i AS INT)],
                            'w2': tk[CAST(i AS INT) + 1]}}),
                      recursive := true)
        FROM toks
    ),
    first_counts AS (
        SELECT w1, COUNT(*) AS n_first FROM pairs GROUP BY w1
    ),
    bg_counts AS (
        SELECT w1, w2, COUNT(*) AS n_xy FROM pairs GROUP BY w1, w2
    )
    SELECT p.doc_id,
           COUNT(*) AS n_bigrams,
           CAST(SUM(b.n_xy * 1000000000 // f.n_first) AS BIGINT)
             // COUNT(*) AS avg_p_e9
    FROM pairs p
    JOIN bg_counts b ON p.w1 = b.w1 AND p.w2 = b.w2
    JOIN first_counts f ON p.w1 = f.w1
    GROUP BY p.doc_id
    """,
)
def q_bigram_lm(spark, sf_dir):
    """Bigram language-model fluency score per document: the corpus
    MLE p(w2|w1) = n(w1 w2) / n(w1 ·) averaged over each document's
    bigrams. High scores mark repetitive / formulaic text — a
    corpus-quality signal next to q_lm_perplexity (which uses ln; this
    lane stays in exact integer fixed point: each probability is
    n_xy * 1e9 DIV n_first, the document score a floor-DIV mean).

    TWO corpus passes total: tokens explode to (doc, pos), bigrams
    come from a lead() over the (doc_id, pos) window, and ONE pair
    aggregate builds the vocabulary-sized bigram table (lazily
    localCheckpointed — it feeds two joins); the denominator table is
    DERIVED from it (n_first(w1) = Σ n_xy over pairs starting with w1
    — an exact identity, no second corpus aggregate). The only other
    corpus pass is the score join-back."""
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != ""
        ).alias("tk"),
    )
    exploded = toks.select("doc_id", F.posexplode("tk").alias("pos", "w"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    pairs = (
        exploded.select(
            "doc_id",
            F.col("w").alias("w1"),
            F.lead("w").over(w).alias("w2"),
        )
        .filter(F.col("w2").isNotNull())
    )
    bg_counts = (
        pairs.groupBy("w1", "w2")
        .agg(F.count("*").alias("n_xy"))
        .transform(shared_pass)
    )
    first_counts = bg_counts.groupBy("w1").agg(
        F.sum("n_xy").cast("bigint").alias("n_first")
    )
    scored = (
        pairs.join(bg_counts, ["w1", "w2"])
        .join(first_counts, ["w1"])
        .select(
            "doc_id",
            F.expr("n_xy * 1000000000 DIV n_first").alias("p_e9"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.expr("CAST(SUM(p_e9) AS BIGINT) DIV COUNT(*)").alias("avg_p_e9"),
    )


_DAILY_CENTS_SQL = """
    SELECT CAST(o_orderdate AS DATE) AS d,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                         AS BIGINT)) AS BIGINT) AS cents
    FROM orders GROUP BY CAST(o_orderdate AS DATE)
"""


def _autocorr_oracle(lag: int) -> str:
    return f"""
    SELECT CAST({lag} AS BIGINT) AS lag_days,
           COUNT(y) AS n_pairs,
           ROUND(
             (COUNT(y) * CAST(SUM(CAST(x AS DECIMAL(19,0))
                                  * CAST(y AS DECIMAL(19,0))) AS DOUBLE)
              - CAST(SUM(CASE WHEN y IS NOT NULL
                              THEN CAST(x AS DECIMAL(38,0)) END) AS DOUBLE)
                * CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE))
             / SQRT(
                 (COUNT(y) * CAST(SUM(CASE WHEN y IS NOT NULL
                        THEN CAST(x AS DECIMAL(19,0))
                             * CAST(x AS DECIMAL(19,0)) END) AS DOUBLE)
                  - CAST(SUM(CASE WHEN y IS NOT NULL
                        THEN CAST(x AS DECIMAL(38,0)) END) AS DOUBLE)
                    * CAST(SUM(CASE WHEN y IS NOT NULL
                        THEN CAST(x AS DECIMAL(38,0)) END) AS DOUBLE))
                 * (COUNT(y) * CAST(SUM(CAST(y AS DECIMAL(19,0))
                                        * CAST(y AS DECIMAL(19,0)))
                                    AS DOUBLE)
                    - CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE)
                      * CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE))
             ), 6) AS autocorr
    FROM lagged_{lag}
    """


@query(
    "q_autocorr",
    oracle=f"""
    WITH daily AS ({_DAILY_CENTS_SQL}),
    lagged_1 AS (
        SELECT cents AS x, LAG(cents, 1) OVER (ORDER BY d) AS y FROM daily
    ),
    lagged_7 AS (
        SELECT cents AS x, LAG(cents, 7) OVER (ORDER BY d) AS y FROM daily
    )
    {_autocorr_oracle(1)}
    UNION ALL
    {_autocorr_oracle(7)}
    """,
)
def q_autocorr(spark, sf_dir):
    """Lag-1 and lag-7 autocorrelation of daily order revenue — the
    seasonality probe next to q_seasonal_index. Daily revenue is exact
    BIGINT cents, so every lagged pair is integer; the Pearson closed
    form runs on exact DECIMAL(38,0) moment sums (pairwise products
    <= ~1e16 stay inside BIGINT), exits once per aggregate to double,
    and ROUNDs to 6. The ~2.4k-row daily table aggregates in one
    shuffle; both lag paths then read the lazily localCheckpointed
    calendar-sized daily table (one corpus scan, not two)."""
    orders = t(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(
            F.sum(
                F.expr(
                    "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
                )
            )
            .cast("bigint")
            .alias("cents")
        )
        .transform(shared_pass)
    )
    w = Window.orderBy("d")

    def corr_for(lag: int):
        lagged = daily.select(
            F.col("cents").alias("x"),
            F.lag("cents", lag).over(w).alias("y"),
        )
        n = F.count("y")
        dec, dec19 = "decimal(38,0)", "decimal(19,0)"
        x19, y19 = F.col("x").cast(dec19), F.col("y").cast(dec19)
        present = F.col("y").isNotNull()
        sx = F.sum(F.when(present, F.col("x").cast(dec))).cast("double")
        sy = F.sum(F.col("y").cast(dec)).cast("double")
        sxy = F.sum(x19 * y19).cast("double")
        sxx = F.sum(F.when(present, x19 * x19)).cast("double")
        syy = F.sum(y19 * y19).cast("double")
        corr = (n * sxy - sx * sy) / F.sqrt(
            (n * sxx - sx * sx) * (n * syy - sy * sy)
        )
        return lagged.agg(
            F.lit(lag).cast("bigint").alias("lag_days"),
            n.alias("n_pairs"),
            F.round(corr, 6).alias("autocorr"),
        )

    return corr_for(1).unionAll(corr_for(7))


@query(
    "q_rank_corr",
    oracle="""
    WITH spend AS (
        SELECT c.c_custkey, c.c_mktsegment, c.c_acctbal,
               CAST(COALESCE(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,2))
                                      * 100 AS BIGINT)), 0) AS BIGINT)
                 AS spend_cents
        FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey, c.c_mktsegment, c.c_acctbal
    ),
    ranked AS (
        SELECT c_mktsegment,
               ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                  ORDER BY c_acctbal, c_custkey) AS rx,
               ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                  ORDER BY spend_cents, c_custkey) AS ry
        FROM spend
    )
    SELECT c_mktsegment,
           COUNT(*) AS n,
           ROUND(CAST(1 AS DOUBLE)
                 - CAST(6 * SUM((rx - ry) * (rx - ry)) AS DOUBLE)
                   / (COUNT(*) * (COUNT(*) * COUNT(*) - 1)), 6)
             AS spearman
    FROM ranked GROUP BY c_mktsegment
    """,
)
def q_rank_corr(spark, sf_dir):
    """Spearman rank correlation between a customer's account balance
    and their lifetime spend, per market segment. Spend is exact cents
    (a double sum would make the rank order partition-dependent);
    ranks are row_number with a c_custkey tiebreak (total order), so
    sum(d^2) is an exact BIGINT and the closed form is one double
    division of exact integers."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    cents = F.expr(
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
    )
    spend = (
        cust.join(orders, orders.o_custkey == cust.c_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment", "c_acctbal")
        .agg(F.coalesce(F.sum(cents), F.lit(0)).cast("bigint").alias("spend_cents"))
    )
    wx = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    wy = Window.partitionBy("c_mktsegment").orderBy("spend_cents", "c_custkey")
    ranked = spend.select(
        "c_mktsegment",
        F.row_number().over(wx).alias("rx"),
        F.row_number().over(wy).alias("ry"),
    )
    n = F.count(F.lit(1))
    d2 = F.sum((F.col("rx") - F.col("ry")) * (F.col("rx") - F.col("ry")))
    spearman = F.lit(1.0) - (6 * d2).cast("double") / (n * (n * n - 1))
    return ranked.groupBy("c_mktsegment").agg(
        n.alias("n"), F.round(spearman, 6).alias("spearman")
    )


@query(
    "q_chi_square",
    oracle="""
    WITH obs AS (
        SELECT o_orderpriority, o_orderstatus, COUNT(*) AS observed
        FROM orders GROUP BY o_orderpriority, o_orderstatus
    ),
    margins AS (
        SELECT o_orderpriority, o_orderstatus, observed,
               CAST(SUM(observed) OVER (PARTITION BY o_orderpriority)
                    AS BIGINT) AS rt,
               CAST(SUM(observed) OVER (PARTITION BY o_orderstatus)
                    AS BIGINT) AS ct,
               CAST(SUM(observed) OVER () AS BIGINT) AS n
        FROM obs
    )
    SELECT o_orderpriority, o_orderstatus, observed,
           ROUND(CAST(rt * ct AS DOUBLE) / n, 6) AS expected,
           ROUND((observed - CAST(rt * ct AS DOUBLE) / n)
                 * (observed - CAST(rt * ct AS DOUBLE) / n)
                 / (CAST(rt * ct AS DOUBLE) / n), 6) AS contrib
    FROM margins
    """,
)
def q_chi_square(spark, sf_dir):
    """Chi-square independence cells for order priority x status: the
    contingency table with expected counts and per-cell chi-square
    contributions (the summed statistic would be an order-dependent
    15-term double fold; the cells themselves are deterministic —
    rt*ct is an exact BIGINT product and every double op repeats the
    same algebraic shape on both engines). One 15-group aggregate."""
    orders = t(spark, sf_dir, "orders")
    obs = orders.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count("*").alias("observed")
    )
    wr = Window.partitionBy("o_orderpriority")
    wc = Window.partitionBy("o_orderstatus")
    wg = Window.partitionBy()
    margins = obs.select(
        "o_orderpriority",
        "o_orderstatus",
        "observed",
        F.sum("observed").over(wr).cast("bigint").alias("rt"),
        F.sum("observed").over(wc).cast("bigint").alias("ct"),
        F.sum("observed").over(wg).cast("bigint").alias("n"),
    )
    e = (F.col("rt") * F.col("ct")).cast("double") / F.col("n")
    return margins.select(
        "o_orderpriority",
        "o_orderstatus",
        "observed",
        F.round(e, 6).alias("expected"),
        F.round((F.col("observed") - e) * (F.col("observed") - e) / e, 6).alias(
            "contrib"
        ),
    )


@query(
    "q_mode_per_key",
    oracle="""
    WITH counted AS (
        SELECT user_id, event_type, COUNT(*) AS n
        FROM events GROUP BY user_id, event_type
    ),
    ranked AS (
        SELECT user_id, event_type, n,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY n DESC, event_type) AS rk
        FROM counted
    )
    SELECT user_id, event_type AS top_type, n FROM ranked WHERE rk = 1
    """,
)
def q_mode_per_key(spark, sf_dir):
    """Per-user modal event type with a deterministic tie-break (max
    count, then lexicographic) — builtin mode() is tie-arbitrary
    across engines, so the lane spells out the total order. One
    count aggregate + one window, both keyed on user_id."""
    ev = t(spark, sf_dir, "events")
    counted = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    w = Window.partitionBy("user_id").orderBy(
        F.desc("n"), F.asc("event_type")
    )
    return (
        counted.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("user_id", F.col("event_type").alias("top_type"), "n")
    )


@query(
    "q_interpurchase",
    oracle="""
    WITH gaps AS (
        SELECT o_custkey,
               date_diff('day',
                         LAG(CAST(o_orderdate AS DATE))
                           OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate, o_orderkey),
                         CAST(o_orderdate AS DATE)) AS gap
        FROM orders
    )
    SELECT o_custkey,
           CAST(COUNT(*) + 1 AS BIGINT) AS n_orders,
           CAST(MAX(gap) AS BIGINT) AS max_gap_days,
           CAST(SUM(gap) * 100 AS BIGINT) // COUNT(*) AS avg_gap_x100
    FROM gaps WHERE gap IS NOT NULL
    GROUP BY o_custkey
    """,
)
def q_interpurchase(spark, sf_dir):
    """Inter-purchase intervals per customer: integer day gaps between
    consecutive orders (orderkey tiebreak; same-day repeats contribute
    exact 0 gaps), max and a x100 floor-DIV mean. The retention-
    modeling companion to q_rfm/q_lead_time. One window shuffle keyed
    on o_custkey."""
    orders = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = orders.select(
        "o_custkey",
        F.datediff(
            F.to_date("o_orderdate"),
            F.lag(F.to_date("o_orderdate")).over(w),
        ).alias("gap"),
    ).filter(F.col("gap").isNotNull())
    return gaps.groupBy("o_custkey").agg(
        (F.count("*") + 1).cast("bigint").alias("n_orders"),
        F.max("gap").cast("bigint").alias("max_gap_days"),
        F.expr("CAST(SUM(gap) * 100 AS BIGINT) DIV COUNT(*)").alias(
            "avg_gap_x100"
        ),
    )


@query(
    "q_readability",
    oracle=r"""
    WITH split AS (
        SELECT doc_id, n_chars,
               len(list_filter(string_split_regex(text, '[.!?]+'),
                               s -> regexp_matches(s, '\w'))) AS n_sent,
               len(list_filter(string_split_regex(text, '\s+'),
                               x -> x <> '')) AS n_words
        FROM documents
    )
    SELECT doc_id,
           CAST(n_sent AS BIGINT) AS n_sent,
           CAST(n_words AS BIGINT) AS n_words,
           n_words * 100 // CAST(GREATEST(n_sent, 1) AS BIGINT)
             AS words_per_sent_x100,
           n_chars * 100 // CAST(GREATEST(n_words, 1) AS BIGINT)
             AS chars_per_word_x100
    FROM split
    """,
)
def q_readability(spark, sf_dir):
    """Readability surface statistics per document: sentence count
    (word-bearing [.!?] segments), word count, and the two Flesch
    inputs — words/sentence and chars/word — as x100 floor-DIV
    integers (the float Flesch composite would be engine-rounding
    bait; its integer inputs carry the same signal for filtering).
    Narrow projection, no shuffle at all — a pure map lane."""
    docs = t(spark, sf_dir, "documents")
    sents = F.filter(
        F.split(F.col("text"), r"[.!?]+"), lambda s: s.rlike(r"\w")
    )
    words = F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != "")
    split = docs.select(
        "doc_id",
        "n_chars",
        F.size(sents).alias("n_sent"),
        F.size(words).alias("n_words"),
    )
    return split.select(
        "doc_id",
        F.col("n_sent").cast("bigint").alias("n_sent"),
        F.col("n_words").cast("bigint").alias("n_words"),
        F.expr(
            "n_words * 100 DIV CAST(GREATEST(n_sent, 1) AS BIGINT)"
        ).alias("words_per_sent_x100"),
        F.expr(
            "n_chars * 100 DIV CAST(GREATEST(n_words, 1) AS BIGINT)"
        ).alias("chars_per_word_x100"),
    )


@query(
    "q_fuzzy_join",
    oracle="""
    WITH names AS (
        SELECT DISTINCT p_name, split_part(p_name, ' ', 1) AS blk FROM part
    )
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
    FROM names a JOIN names b
      ON a.blk = b.blk AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 4
    """,
)
def q_fuzzy_join(spark, sf_dir):
    """Fuzzy self-join for entity resolution: near-identical part
    names by edit distance <= 4. The corpus collapses to DISTINCT
    names FIRST (name-alphabet-sized, the collapse any 100 TB entity
    matcher does), then candidates are blocked on the first token —
    levenshtein only runs inside blocks, never all-pairs. Both engines
    implement classic Levenshtein identically."""
    part = t(spark, sf_dir, "part")
    names = part.select(
        "p_name", F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("blk")
    ).distinct()
    a = names.alias("a")
    b = names.alias("b")
    lev = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.p_name") < F.col("b.p_name")),
        )
        .filter(lev <= 4)
        .select(
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            lev.cast("bigint").alias("dist"),
        )
    )


@query(
    "q_twap",
    oracle="""
    WITH seq AS (
        SELECT event_type,
               CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS v4,
               (LEAD(epoch_us(ts)) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id)
                - epoch_us(ts)) // 1000000 AS dt_s
        FROM events
    )
    SELECT event_type,
           COUNT(*) AS n_intervals,
           CAST(SUM(dt_s) AS BIGINT) AS total_s,
           CAST(SUM(v4 * dt_s) AS BIGINT)
             // CAST(SUM(dt_s) AS BIGINT) AS twap_x10000
    FROM seq WHERE dt_s IS NOT NULL AND dt_s > 0
    GROUP BY event_type
    """,
)
def q_twap(spark, sf_dir):
    """Time-weighted average value per event type: each observation's
    value holds until the user's next event (state-sampling
    semantics); the weight is the whole-second interval. Everything is
    integer — value enters as exact x10000 fixed point (one decimal
    cast per input datum), intervals are truncating epoch-second
    diffs, and the TWAP exits as a floor-DIV x10000 integer. Sum
    bound: max_v4(~5e6) x total_s(~4e9 at sf0.1) ~ 2e16 << BIGINT.
    One user_id window shuffle + one alphabet-sized aggregate."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.expr("CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT)").alias(
            "v4"
        ),
        F.expr("(LEAD(unix_micros(ts)) OVER (PARTITION BY user_id "
               "ORDER BY ts, event_id) - unix_micros(ts)) DIV 1000000").alias(
            "dt_s"
        ),
    ).filter(F.col("dt_s").isNotNull() & (F.col("dt_s") > 0))
    return seq.groupBy("event_type").agg(
        F.count("*").alias("n_intervals"),
        F.sum("dt_s").cast("bigint").alias("total_s"),
        F.expr(
            "CAST(SUM(v4 * dt_s) AS BIGINT) DIV CAST(SUM(dt_s) AS BIGINT)"
        ).alias("twap_x10000"),
    )


@query(
    "q_heaps_law",
    oracle=f"""
    WITH toks AS (
        SELECT source, unnest({_WS_TOKS_SQL}) AS w FROM documents
    ),
    counts AS (
        SELECT source, w, COUNT(*) AS n FROM toks GROUP BY source, w
    )
    SELECT source,
           CAST(SUM(n) AS BIGINT) AS n_tokens,
           COUNT(*) AS n_vocab,
           CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hapax,
           CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) * 10000
             // COUNT(*) AS hapax_bp
    FROM counts GROUP BY source
    """,
)
def q_heaps_law(spark, sf_dir):
    """Heaps'-law vocabulary growth audit per source: token volume,
    vocabulary size, and the hapax-legomenon share (the fraction of
    vocabulary seen exactly once — high hapax share means the source's
    vocabulary is still growing; near-zero means templated text). The
    companion corpus-health gate to q_zipf_fit. One tokenize pass into
    a (source, token)-keyed count — vocab-sized thereafter."""
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != ""
            )
        ).alias("w"),
    )
    counts = toks.groupBy("source", "w").agg(F.count("*").alias("n"))
    return counts.groupBy("source").agg(
        F.sum("n").cast("bigint").alias("n_tokens"),
        F.count("*").alias("n_vocab"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_hapax"),
        F.expr(
            "CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) * 10000 "
            "DIV COUNT(*)"
        ).alias("hapax_bp"),
    )


@query(
    "q_new_vs_returning",
    oracle="""
    WITH active AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    firsts AS (
        SELECT user_id, MIN(d) AS first_d FROM active GROUP BY user_id
    )
    SELECT a.d,
           CAST(SUM(CASE WHEN a.d = f.first_d THEN 1 ELSE 0 END) AS BIGINT)
             AS n_new,
           CAST(SUM(CASE WHEN a.d = f.first_d THEN 0 ELSE 1 END) AS BIGINT)
             AS n_returning,
           CAST(SUM(CASE WHEN a.d = f.first_d THEN 1 ELSE 0 END) AS BIGINT)
             * 10000 // COUNT(*) AS new_share_bp
    FROM active a JOIN firsts f ON a.user_id = f.user_id
    GROUP BY a.d
    """,
)
def q_new_vs_returning(spark, sf_dir):
    """Daily new-vs-returning user split — the acquisition/retention
    decomposition of DAU (companion to q_dau/q_stickiness). The event
    stream collapses to distinct (user, day) FIRST; first-seen days
    come from a window min over the same user_id partitioning (no
    second scan), and the daily split is a calendar-sized aggregate.
    Shares exit as integer basis points."""
    ev = t(spark, sf_dir, "events")
    active = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    wu = Window.partitionBy("user_id")
    flagged = active.withColumn("first_d", F.min("d").over(wu))
    is_new = F.when(F.col("d") == F.col("first_d"), 1).otherwise(0)
    return flagged.groupBy("d").agg(
        F.sum(is_new).cast("bigint").alias("n_new"),
        F.sum(1 - is_new).cast("bigint").alias("n_returning"),
        F.expr(
            "CAST(SUM(CASE WHEN d = first_d THEN 1 ELSE 0 END) AS BIGINT) "
            "* 10000 DIV COUNT(*)"
        ).alias("new_share_bp"),
    )


@query(
    "q_funnel_timing",
    oracle="""
    WITH stages AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END)
                 AS t_signup,
               MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
                 AS t_purchase
        FROM events GROUP BY user_id
    ),
    conv AS (
        SELECT user_id,
               (t_purchase - t_signup) // 1000000 AS dt_s
        FROM stages
        WHERE t_signup IS NOT NULL AND t_purchase > t_signup
    ),
    ranked AS (
        SELECT dt_s,
               ROW_NUMBER() OVER (ORDER BY dt_s, user_id) AS rn,
               COUNT(*) OVER () AS n
        FROM conv
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_converted,
           CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN dt_s END) AS BIGINT)
             AS p50_s,
           CAST(MAX(CASE WHEN rn = (9 * n + 9) // 10 THEN dt_s END)
                AS BIGINT) AS p90_s,
           CAST(MAX(dt_s) AS BIGINT) AS max_s
    FROM ranked
    """,
)
def q_funnel_timing(spark, sf_dir):
    """Time-to-convert distribution for the signup → purchase funnel
    (the timing companion to q_funnel's counts): whole-second deltas
    between each user's first signup and first later purchase, with
    DISCRETE percentiles — the p50/p90 are actual observed values
    selected by integer rank ((n+1) DIV 2, ceil(9n/10) as (9n+9) DIV
    10), so no interpolation and no engine float surface anywhere.

    One per-user conditional-min aggregate (the corpus-scale pass);
    the percentile window then runs over the CONVERTER-sized table.
    At extreme user counts swap the exact rank-select for the KLL
    sketch lane (q_approx_percentiles) — documented trade."""
    ev = t(spark, sf_dir, "events")
    stages = ev.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "signup", F.unix_micros(F.col("ts")))
        ).alias("t_signup"),
        F.min(
            F.when(
                F.col("event_type") == "purchase", F.unix_micros(F.col("ts"))
            )
        ).alias("t_purchase"),
    )
    conv = stages.filter(
        F.col("t_signup").isNotNull()
        & (F.col("t_purchase") > F.col("t_signup"))
    ).select(
        "user_id",
        F.expr("(t_purchase - t_signup) DIV 1000000").alias("dt_s"),
    )
    from pyspark.sql import Window as W

    ranked = conv.select(
        "dt_s",
        F.row_number().over(W.orderBy("dt_s", "user_id")).alias("rn"),
        F.count("*").over(W.partitionBy()).alias("n"),
    )
    return ranked.agg(
        F.max("n").cast("bigint").alias("n_converted"),
        F.max(F.when(F.expr("rn = (n + 1) DIV 2"), F.col("dt_s")))
        .cast("bigint")
        .alias("p50_s"),
        F.max(F.when(F.expr("rn = (9 * n + 9) DIV 10"), F.col("dt_s")))
        .cast("bigint")
        .alias("p90_s"),
        F.max("dt_s").cast("bigint").alias("max_s"),
    )


@query(
    "q_activity_heatmap",
    oracle="""
    WITH cells AS (
        SELECT isodow(ts) AS dow, CAST(hour(ts) AS BIGINT) AS hr,
               COUNT(*) AS n
        FROM events GROUP BY isodow(ts), hour(ts)
    )
    SELECT CAST(dow AS BIGINT) AS dow, hr, n,
           n * 10000 // CAST(SUM(n) OVER () AS BIGINT) AS share_bp
    FROM cells
    """,
)
def q_activity_heatmap(spark, sf_dir):
    """Weekday × hour activity heatmap — the load-profile table an
    ops dashboard draws (Mon=1 ISO weekday via the portable
    weekday()+1 ≡ isodow() idiom, FIXTURES.md §C). One calendar-
    bounded (≤168 group) aggregate; shares exit as integer bp."""
    ev = t(spark, sf_dir, "events")
    cells = ev.groupBy(
        (F.weekday("ts") + 1).cast("bigint").alias("dow"),
        F.hour("ts").cast("bigint").alias("hr"),
    ).agg(F.count("*").alias("n"))
    return cells.withColumn(
        "share_bp",
        F.expr("n * 10000 DIV CAST(SUM(n) OVER () AS BIGINT)"),
    )


@query(
    "q_lorenz_deciles",
    oracle="""
    WITH spend AS (
        SELECT c.c_custkey,
               CAST(COALESCE(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,2))
                                      * 100 AS BIGINT)), 0) AS BIGINT)
                 AS cents
        FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey
    ),
    tiled AS (
        SELECT cents,
               NTILE(10) OVER (ORDER BY cents, c_custkey) AS decile
        FROM spend
    ),
    per_decile AS (
        SELECT decile,
               COUNT(*) AS n_customers,
               CAST(SUM(cents) AS BIGINT) AS decile_cents
        FROM tiled GROUP BY decile
    )
    SELECT CAST(decile AS BIGINT) AS decile, n_customers, decile_cents,
           CAST(SUM(decile_cents)
                OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS BIGINT) * 10000
             // CAST(SUM(decile_cents) OVER () AS BIGINT)
             AS cum_share_bp
    FROM per_decile
    """,
)
def q_lorenz_deciles(spark, sf_dir):
    """Lorenz-curve decile table for customer spend — the curve
    behind q_gini's scalar: customers ranked ascending by lifetime
    cents (custkey tiebreak makes the NTILE boundary a total order,
    FIXTURES.md §C), cumulative revenue share per decile in integer
    basis points. The corpus-scale work is one spend aggregate; the
    NTILE sorts the CUSTOMER-sized collapse (swap to KLL-threshold
    bucketing past ~10⁸ customers); the curve itself is a 10-row
    window."""
    from pyspark.sql import Window as W

    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    cents_in = F.expr(
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
    )
    spend = (
        cust.join(orders, orders.o_custkey == cust.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.coalesce(F.sum(cents_in), F.lit(0)).cast("bigint").alias("cents"))
    )
    tiled = spend.select(
        "cents",
        F.ntile(10).over(W.orderBy("cents", "c_custkey")).alias("decile"),
    )
    per_decile = tiled.groupBy("decile").agg(
        F.count("*").alias("n_customers"),
        F.sum("cents").cast("bigint").alias("decile_cents"),
    )
    wc = W.orderBy("decile").rowsBetween(W.unboundedPreceding, W.currentRow)
    wt = W.partitionBy()
    return per_decile.select(
        F.col("decile").cast("bigint").alias("decile"),
        "n_customers",
        "decile_cents",
        (
            F.sum("decile_cents").over(wc).cast("bigint") * 10000
        ).alias("_cum"),
    ).select(
        "decile",
        "n_customers",
        "decile_cents",
        F.expr(
            "_cum DIV CAST(SUM(decile_cents) OVER () AS BIGINT)"
        ).alias("cum_share_bp"),
    )


@query(
    "q_feature_hash",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({_WS_TOKS_SQL}) AS w FROM documents
    ),
    hashed AS (
        SELECT doc_id,
               ('0x' || substr(md5(w), 1, 4))::BIGINT % 64 AS bucket
        FROM toks
    )
    SELECT doc_id, bucket, COUNT(*) AS cnt
    FROM hashed GROUP BY doc_id, bucket
    """,
)
def q_feature_hash(spark, sf_dir):
    """Hashing-trick feature extraction (the FeatureHasher /
    HashingTF operation, engine-portably): each token hashes into one
    of 64 buckets via the md5-chunk idiom (FIXTURES.md §C: Spark
    CONV(substr(md5,1,4),16,10) ≡ DuckDB ('0x'||substr)::BIGINT — a
    16-bit value, so the % 64 is on identical non-negative integers),
    and the per-(doc, bucket) counts ARE the sparse feature vector.
    One explode + one keyed aggregate; output bounded at docs × 64.
    The dense-vector assembly for MLlib is a trivial pivot of this
    table — the hashing itself is the part that must be deterministic
    and engine-checkable."""
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != ""
            )
        ).alias("w"),
    )
    hashed = toks.select(
        "doc_id",
        (
            F.conv(F.substring(F.md5("w"), 1, 4), 16, 10).cast("bigint") % 64
        ).alias("bucket"),
    )
    return hashed.groupBy("doc_id", "bucket").agg(F.count("*").alias("cnt"))


@query(
    "q_rolling_wau",
    oracle=f"""
    WITH active AS (
        SELECT DISTINCT user_id, {_DAYNUM_SQL} AS day_num FROM events
    ),
    bounds AS (SELECT MAX(day_num) AS max_d FROM active),
    contrib AS (
        SELECT user_id, unnest(list_transform(range(0, 7),
                               i -> day_num + i)) AS target_d
        FROM active
    )
    SELECT target_d AS day_num,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
    FROM contrib, bounds
    WHERE target_d <= max_d
    GROUP BY target_d
    """,
)
def q_rolling_wau(spark, sf_dir):
    """Rolling 7-day active users per day — the trailing-window
    distinct count that naive SQL writes as a day×day range self-join.
    Scale-correct shape: each distinct (user, day) row EXPLODES into
    the <=7 future days it keeps the user 'active' for (a bounded ×7
    fan-out of the already-collapsed user-day table), then one
    count-distinct per day. No self-join, no per-day rescan; the
    trailing horizon is data-independent. The collapsed user-day set
    feeds the bound probe AND the explode, so it is lazily
    localCheckpointed — one corpus scan."""
    ev = t(spark, sf_dir, "events")
    active = (
        ev.select(
            "user_id",
            F.datediff(
                F.to_date("ts"), F.to_date(F.lit("1970-01-01"))
            ).alias("day_num"),
        )
        .distinct()
        .transform(shared_pass)
    )
    bounds = active.agg(F.max("day_num").alias("max_d"))
    contrib = active.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day_num"), F.col("day_num") + F.lit(6))
        ).alias("target_d"),
    )
    return (
        contrib.crossJoin(F.broadcast(bounds))
        .filter(F.col("target_d") <= F.col("max_d"))
        .groupBy(F.col("target_d").alias("day_num"))
        .agg(F.count_distinct("user_id").cast("bigint").alias("wau"))
    )


@query(
    "q_id_gaps",
    oracle="""
    WITH keys AS (SELECT DISTINCT l_orderkey AS k FROM lineitem),
    seq AS (
        SELECT k, LEAD(k) OVER (ORDER BY k) AS nxt FROM keys
    )
    SELECT k + 1 AS gap_start,
           CAST(nxt - k - 1 AS BIGINT) AS gap_len
    FROM seq WHERE nxt - k > 1
    """,
)
def q_id_gaps(spark, sf_dir):
    """Missing-ID-range audit over the lineitem orderkey space (the
    referential twin of q_try_arith's 'orders with no line items',
    expressed as contiguous gap ranges — the data-quality check for
    sequence allocators).

    The oracle is the naive global LEAD — fine for DuckDB at fixture
    scale, but a single-partition global sort at 100 TB. The Spark
    plan partitions the key space by k DIV 10000 buckets: within-
    bucket gaps come from a bucket-parallel window, and cross-bucket
    gaps from a global window over the BUCKET-COUNT-sized min/max
    table — the only serial pass touches ~|keyspace|/10000 rows. The
    two forms produce identical gaps because buckets tile the key
    space in order."""
    li = t(spark, sf_dir, "lineitem")
    # the distinct key set feeds both gap passes — one scan + distinct
    keys = (
        li.select(F.col("l_orderkey").alias("k"))
        .distinct()
        .transform(shared_pass)
    )
    return gap_ranges(keys, bucket_size=10000)


def gap_ranges(keys, bucket_size: int = 10000):
    """Bucket-parallel missing-range detection over a distinct BIGINT
    key column `k`: within-bucket gaps from a bucket-partitioned
    window + cross-bucket gaps from a bucket-count-sized serial
    window. Equivalent to the naive global LEAD for any key set and
    any bucket size (fuzz-pinned in tests/test_property_fuzz_r6.py)."""
    bucketed = keys.withColumn("b", F.expr(f"k DIV {bucket_size}"))
    win = Window.partitionBy("b").orderBy("k")
    within = (
        bucketed.withColumn("nxt", F.lead("k").over(win))
        .filter(F.col("nxt") - F.col("k") > 1)
        .select(
            (F.col("k") + 1).alias("gap_start"),
            (F.col("nxt") - F.col("k") - 1).cast("bigint").alias("gap_len"),
        )
    )
    edges = bucketed.groupBy("b").agg(
        F.min("k").alias("lo"), F.max("k").alias("hi")
    )
    wedge = Window.orderBy("b")
    cross = (
        edges.withColumn("next_lo", F.lead("lo").over(wedge))
        .filter(F.col("next_lo") - F.col("hi") > 1)
        .select(
            (F.col("hi") + 1).alias("gap_start"),
            (F.col("next_lo") - F.col("hi") - 1).cast("bigint").alias(
                "gap_len"
            ),
        )
    )
    return within.unionAll(cross)


_DAILY_CENTS_CTE = """
    SELECT CAST(o_orderdate AS DATE) AS d,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                         AS BIGINT)) AS BIGINT) AS cents
    FROM orders GROUP BY CAST(o_orderdate AS DATE)
"""


@query(
    "q_peaks",
    oracle=f"""
    WITH daily AS ({_DAILY_CENTS_CTE}),
    ctx AS (
        SELECT d, cents,
               LAG(cents)  OVER (ORDER BY d) AS prev,
               LEAD(cents) OVER (ORDER BY d) AS nxt
        FROM daily
    )
    SELECT d AS day, cents
    FROM ctx
    WHERE prev IS NOT NULL AND nxt IS NOT NULL
      AND cents > prev AND cents > nxt
    """,
)
def q_peaks(spark, sf_dir):
    """Local-maximum detection over the daily revenue series (strict
    peaks: above both neighbors; boundary days excluded). Revenue is
    exact BIGINT cents so the strict > comparisons have no float
    surface. The corpus collapses to the calendar-sized daily table
    first; the neighbor window runs over ~2.4k rows."""
    orders = t(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(
            F.expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
        )
        .cast("bigint")
        .alias("cents")
    )
    w = Window.orderBy("day")
    ctx = daily.select(
        "day",
        "cents",
        F.lag("cents").over(w).alias("prev"),
        F.lead("cents").over(w).alias("nxt"),
    )
    return ctx.filter(
        F.col("prev").isNotNull()
        & F.col("nxt").isNotNull()
        & (F.col("cents") > F.col("prev"))
        & (F.col("cents") > F.col("nxt"))
    ).select("day", "cents")


@query(
    "q_max_drawdown",
    oracle=f"""
    WITH daily AS ({_DAILY_CENTS_CTE}),
    demeaned AS (
        SELECT d,
               cents - CAST(SUM(cents) OVER () AS BIGINT)
                         // COUNT(*) OVER () AS net
        FROM daily
    ),
    cum AS (
        SELECT d,
               CAST(SUM(net) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
                                   PRECEDING AND CURRENT ROW) AS BIGINT)
                 AS equity
        FROM demeaned
    ),
    dd AS (
        SELECT d, equity,
               CAST(MAX(equity) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
                                      PRECEDING AND CURRENT ROW) AS BIGINT)
                 - equity AS drawdown
        FROM cum
    )
    SELECT CAST(MAX(drawdown) AS BIGINT) AS max_drawdown_cents,
           CAST(COUNT(*) AS BIGINT) AS n_days
    FROM dd
    """,
)
def q_max_drawdown(spark, sf_dir):
    """Maximum drawdown of the demeaned cumulative daily revenue
    (equity-curve analysis: the deepest peak-to-trough drop of the
    'surplus vs average day' series). Every step is integer cents —
    the demeaning uses a floor-DIV daily average, the cumulative and
    running-max windows run over the calendar-sized table. The
    signal-analysis companion to q_trend/q_anomaly_zscore."""
    orders = t(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum(
            F.expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
        )
        .cast("bigint")
        .alias("cents")
    )
    wg = Window.partitionBy()
    demeaned = daily.select(
        "d",
        (
            F.col("cents")
            - F.expr(
                "CAST(SUM(cents) OVER () AS BIGINT) DIV COUNT(*) OVER ()"
            )
        ).alias("net"),
    )
    wc = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    cum = demeaned.select(
        "d", F.sum("net").over(wc).cast("bigint").alias("equity")
    )
    dd = cum.select(
        "d",
        (F.max("equity").over(wc).cast("bigint") - F.col("equity")).alias(
            "drawdown"
        ),
    )
    return dd.agg(
        F.max("drawdown").cast("bigint").alias("max_drawdown_cents"),
        F.count("*").cast("bigint").alias("n_days"),
    )


@query(
    "q_growth_accounting",
    oracle=f"""
    WITH active AS (
        SELECT DISTINCT user_id, {_DAYNUM_SQL} AS d FROM events
    ),
    firsts AS (
        SELECT user_id, MIN(d) AS first_d FROM active GROUP BY user_id
    ),
    flags AS (
        SELECT a.user_id, a.d,
               a.d = f.first_d AS is_new,
               y.user_id IS NOT NULL AS active_yday
        FROM active a
        JOIN firsts f ON a.user_id = f.user_id
        LEFT JOIN active y
          ON y.user_id = a.user_id AND y.d = a.d - 1
    ),
    churn AS (
        SELECT a.d + 1 AS d, COUNT(*) AS n
        FROM active a
        LEFT JOIN active t
          ON t.user_id = a.user_id AND t.d = a.d + 1
        WHERE t.user_id IS NULL
        GROUP BY a.d + 1
    )
    SELECT g.d AS day_num,
           CAST(SUM(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT)
             AS n_new,
           CAST(SUM(CASE WHEN NOT is_new AND active_yday
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
           CAST(SUM(CASE WHEN NOT is_new AND NOT active_yday
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected,
           CAST(COALESCE(MAX(c.n), 0) AS BIGINT) AS n_churned_from_prev
    FROM flags g LEFT JOIN churn c ON c.d = g.d
    GROUP BY g.d
    """,
)
def q_growth_accounting(spark, sf_dir):
    """DAU growth accounting — the product-analytics decomposition
    active(d) = new + retained + resurrected, plus how many of
    yesterday's actives did not return today (churned-from-previous).
    All joins are equi-joins of the COLLAPSED user-day table against
    itself shifted by one day via key arithmetic (d ± 1) — never a
    window over the raw event stream and never a range join; cost is
    O(user-days), partitioned by user_id. The collapse feeds five
    consumers, so it is lazily localCheckpointed — ONE corpus scan +
    one distinct (was five of each)."""
    ev = t(spark, sf_dir, "events")
    active = (
        ev.select(
            "user_id",
            F.datediff(
                F.to_date("ts"), F.to_date(F.lit("1970-01-01"))
            ).alias("d"),
        )
        .distinct()
        .transform(shared_pass)
    )
    firsts = active.groupBy("user_id").agg(F.min("d").alias("first_d"))
    yday = active.select(
        "user_id", (F.col("d") + 1).alias("d"), F.lit(True).alias("was_active")
    )
    flags = (
        active.join(firsts, "user_id")
        .join(yday, ["user_id", "d"], "left")
        .select(
            "d",
            (F.col("d") == F.col("first_d")).alias("is_new"),
            F.coalesce(F.col("was_active"), F.lit(False)).alias("active_yday"),
        )
    )
    tmrw = active.select(
        "user_id", (F.col("d") - 1).alias("d"), F.lit(True).alias("back")
    )
    churn = (
        active.join(tmrw, ["user_id", "d"], "left")
        .filter(F.col("back").isNull())
        .groupBy((F.col("d") + 1).alias("d"))
        .agg(F.count("*").alias("n"))
    )
    day_rollup = flags.groupBy(F.col("d").alias("day_num")).agg(
        F.sum(F.when(F.col("is_new"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_new"),
        F.sum(F.when(~F.col("is_new") & F.col("active_yday"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_retained"),
        F.sum(
            F.when(~F.col("is_new") & ~F.col("active_yday"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_resurrected"),
    )
    return (
        day_rollup.join(churn, day_rollup.day_num == churn.d, "left")
        .select(
            "day_num",
            "n_new",
            "n_retained",
            "n_resurrected",
            F.coalesce(F.col("n"), F.lit(0))
            .cast("bigint")
            .alias("n_churned_from_prev"),
        )
    )


@query(
    "q_same_day_orders",
    oracle="""
    SELECT o_custkey AS custkey,
           CAST(o_orderdate AS DATE) AS day,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                         AS BIGINT)) AS BIGINT) AS total_cents,
           CAST(MIN(o_orderkey) AS BIGINT) AS first_orderkey
    FROM orders
    GROUP BY o_custkey, CAST(o_orderdate AS DATE)
    HAVING COUNT(*) >= 2
    """,
)
def q_same_day_orders(spark, sf_dir):
    """Duplicate-payment screen: customers placing MULTIPLE orders on
    the same day — the double-billing candidates an auditor reviews
    first (exact-amount collisions are vanishingly rare under
    continuous prices, so the day-level collapse is the operative
    screen). One keyed aggregate on (custkey, day); amounts are exact
    BIGINT cents."""
    orders = t(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.col("o_custkey").alias("custkey"),
            F.to_date("o_orderdate").alias("day"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(
                F.expr(
                    "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
                )
            )
            .cast("bigint")
            .alias("total_cents"),
            F.min("o_orderkey").cast("bigint").alias("first_orderkey"),
        )
        .filter(F.col("n_orders") >= 2)
    )


@query(
    "q_price_spread",
    oracle="""
    SELECT l_partkey,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(MIN(CAST(FLOOR(l_extendedprice / l_quantity * 10000)
                         AS BIGINT)) AS BIGINT) AS min_unit_x10000,
           CAST(MAX(CAST(FLOOR(l_extendedprice / l_quantity * 10000)
                         AS BIGINT)) AS BIGINT) AS max_unit_x10000
    FROM lineitem
    GROUP BY l_partkey
    HAVING MAX(CAST(FLOOR(l_extendedprice / l_quantity * 10000) AS BIGINT))
         > MIN(CAST(FLOOR(l_extendedprice / l_quantity * 10000) AS BIGINT))
    """,
)
def q_price_spread(spark, sf_dir):
    """Catalog-consistency audit: parts sold at more than one unit
    price. The unit price is the raw IEEE division (identical bits in
    both engines) quantized ONCE to x10000 fixed point at input — the
    min/max/inequality then run on exact integers. One keyed
    aggregate over l_partkey."""
    li = t(spark, sf_dir, "lineitem")
    # FLOOR of the identically-shaped IEEE (a/b)*10000 is engine-exact
    # on the binary value; a per-term DECIMAL cast of a COMPUTED double
    # is the documented cross-engine hazard at corpus volume
    # (FIXTURES.md §C "Bin on FLOOR, never ROUND").
    unit = F.expr(
        "CAST(FLOOR(l_extendedprice / l_quantity * 10000) AS BIGINT)"
    )
    return (
        li.groupBy("l_partkey")
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            F.min(unit).cast("bigint").alias("min_unit_x10000"),
            F.max(unit).cast("bigint").alias("max_unit_x10000"),
        )
        .filter(F.col("max_unit_x10000") > F.col("min_unit_x10000"))
    )


@query(
    "q_assoc_rules",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n_orders AS (
        SELECT COUNT(DISTINCT l_orderkey) AS n FROM items
    ),
    item_counts AS (
        SELECT l_partkey, COUNT(*) AS n_item FROM items GROUP BY l_partkey
    ),
    pairs AS (
        SELECT a.l_partkey AS x, b.l_partkey AS y, COUNT(*) AS n_xy
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
        HAVING COUNT(*) >= 3
    )
    SELECT p.x, p.y, p.n_xy,
           p.n_xy * 10000 // CAST(cx.n_item AS BIGINT) AS conf_x_to_y_bp,
           p.n_xy * n.n * 10000
             // CAST(cx.n_item * cy.n_item AS BIGINT) AS lift_x10000
    FROM pairs p
    JOIN item_counts cx ON cx.l_partkey = p.x
    JOIN item_counts cy ON cy.l_partkey = p.y
    CROSS JOIN n_orders n
    """,
)
def q_assoc_rules(spark, sf_dir):
    """Association rules on top of the market-basket pairs
    (q_market_basket stops at support): confidence(x→y) and lift in
    integer fixed point (conf_bp = n_xy·1e4 DIV n_x; lift·1e4 =
    n_xy·N·1e4 DIV (n_x·n_y) — no double is ever produced). Pair
    candidates block on the order key after distinct-ing items
    (bounded by basket size); the item-count joins are
    vocabulary-sized. The distinct item set feeds FOUR consumers
    (both pair-join sides, the item counts, the order total), so it
    is lazily localCheckpointed — one corpus scan + one distinct
    shuffle instead of five of each (the q_ngram_dup_rate shared-pass
    idiom; measured 5 scans / 0 reuse without it)."""
    items = (
        t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .transform(shared_pass)
    )
    n_orders = items.agg(
        F.count_distinct("l_orderkey").alias("n")
    )
    item_counts = items.groupBy("l_partkey").agg(
        F.count("*").alias("n_item")
    )
    a, b = items.alias("a"), items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("x"), F.col("b.l_partkey").alias("y")
        )
        .agg(F.count("*").alias("n_xy"))
        .filter(F.col("n_xy") >= 3)
    )
    cx = item_counts.select(
        F.col("l_partkey").alias("x"), F.col("n_item").alias("n_x")
    )
    cy = item_counts.select(
        F.col("l_partkey").alias("y"), F.col("n_item").alias("n_y")
    )
    return (
        pairs.join(cx, "x")
        .join(cy, "y")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "x",
            "y",
            "n_xy",
            F.expr("n_xy * 10000 DIV CAST(n_x AS BIGINT)").alias(
                "conf_x_to_y_bp"
            ),
            F.expr(
                "n_xy * n * 10000 DIV CAST(n_x * n_y AS BIGINT)"
            ).alias("lift_x10000"),
        )
    )


@query(
    "q_mix_shift",
    oracle="""
    WITH monthly AS (
        SELECT date_trunc('month', o_orderdate) AS m, c.c_mktsegment,
               CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS cents
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY date_trunc('month', o_orderdate), c.c_mktsegment
    ),
    shares AS (
        SELECT CAST(m AS DATE) AS month, c_mktsegment,
               cents * 10000
                 // CAST(SUM(cents) OVER (PARTITION BY m) AS BIGINT)
                 AS share_bp
        FROM monthly
    )
    SELECT month, c_mktsegment, share_bp, delta_bp FROM (
        SELECT month, c_mktsegment, share_bp,
               share_bp - LAG(share_bp)
                 OVER (PARTITION BY c_mktsegment ORDER BY month)
                 AS delta_bp
        FROM shares
    ) WHERE delta_bp IS NOT NULL
    """,
)
def q_mix_shift(spark, sf_dir):
    """Revenue-mix shift: each market segment's share of monthly
    revenue in basis points, and its month-over-month delta — the
    composition-drift companion to q_psi_drift (which gates count
    distributions; this gates the money mix). Calendar² cells; shares
    and deltas are exact integers."""
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    monthly = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            F.date_trunc("month", "o_orderdate").alias("m"), "c_mktsegment"
        )
        .agg(
            F.sum(
                F.expr(
                    "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
                )
            )
            .cast("bigint")
            .alias("cents")
        )
    )
    wm = Window.partitionBy("m")
    shares = monthly.select(
        F.col("m").cast("date").alias("month"),
        "c_mktsegment",
        F.expr(
            "cents * 10000 DIV CAST(SUM(cents) OVER (PARTITION BY m) "
            "AS BIGINT)"
        ).alias("share_bp"),
    )
    ws = Window.partitionBy("c_mktsegment").orderBy("month")
    # each segment's first month has no predecessor: dropped (a NULL
    # in an int column would arrive as float64 on both sides — avoid
    # the dtype surface entirely)
    return (
        shares.select(
            "month",
            "c_mktsegment",
            "share_bp",
            (F.col("share_bp") - F.lag("share_bp").over(ws)).alias("delta_bp"),
        )
        .filter(F.col("delta_bp").isNotNull())
    )


@query(
    "q_group_median",
    oracle="""
    WITH ranked AS (
        SELECT l_returnflag, l_quantity,
               ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                  ORDER BY l_quantity, l_orderkey,
                                           l_linenumber) AS rn,
               COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        FROM lineitem
    )
    SELECT l_returnflag,
           CAST(MAX(n) AS BIGINT) AS n,
           MAX(CASE WHEN rn = (n + 1) // 2 THEN l_quantity END) AS median_qty
    FROM ranked GROUP BY l_returnflag
    """,
)
def q_group_median(spark, sf_dir):
    """Exact DISCRETE median per group by integer rank-select (the
    observed value at rank (n+1) DIV 2 under a total order) —
    engine-interpolating percentile functions disagree; an observed
    value cannot. The group-partitioned window parallelizes across
    groups; for extreme group sizes the KLL lane
    (q_approx_percentiles) is the documented swap."""
    li = t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy(
        "l_quantity", "l_orderkey", "l_linenumber"
    )
    wn = Window.partitionBy("l_returnflag")
    ranked = li.select(
        "l_returnflag",
        "l_quantity",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    return ranked.groupBy("l_returnflag").agg(
        F.max("n").cast("bigint").alias("n"),
        F.max(
            F.when(F.expr("rn = (n + 1) DIV 2"), F.col("l_quantity"))
        ).alias("median_qty"),
    )


@query(
    "q_rank_movers",
    oracle="""
    WITH weekly AS (
        SELECT date_trunc('week', l_shipdate) AS wk, l_partkey,
               CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS cents
        FROM lineitem
        GROUP BY date_trunc('week', l_shipdate), l_partkey
    ),
    ranked AS (
        SELECT CAST(wk AS DATE) AS week, l_partkey,
               ROW_NUMBER() OVER (PARTITION BY wk
                                  ORDER BY cents DESC, l_partkey) AS rnk
        FROM weekly
    )
    SELECT week, l_partkey, CAST(rnk AS BIGINT) AS rnk,
           CAST(LAG(rnk) OVER (PARTITION BY l_partkey ORDER BY week)
                - rnk AS BIGINT) AS delta
    FROM ranked
    QUALIFY LAG(rnk) OVER (PARTITION BY l_partkey ORDER BY week)
            IS NOT NULL
    """,
)
def q_rank_movers(spark, sf_dir):
    """Trending analysis: each part's weekly revenue rank and its
    movement vs the part's previous ACTIVE week (positive delta =
    climbed). ISO-Monday date_trunc('week') agrees across engines;
    revenue is exact cents; ranks are row_number with a partkey
    tiebreak. Two window passes over the (week, part) collapse — the
    per-week rank parallelizes across weeks, the per-part lag across
    parts."""
    li = t(spark, sf_dir, "lineitem")
    weekly = li.groupBy(
        F.date_trunc("week", "l_shipdate").alias("wk"), "l_partkey"
    ).agg(
        F.sum(
            F.expr(
                "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
            )
        )
        .cast("bigint")
        .alias("cents")
    )
    wr = Window.partitionBy("wk").orderBy(F.desc("cents"), F.asc("l_partkey"))
    ranked = weekly.select(
        F.col("wk").cast("date").alias("week"),
        "l_partkey",
        F.row_number().over(wr).alias("rnk"),
    )
    wl = Window.partitionBy("l_partkey").orderBy("week")
    return (
        ranked.select(
            "week",
            "l_partkey",
            F.col("rnk").cast("bigint").alias("rnk"),
            (F.lag("rnk").over(wl) - F.col("rnk")).cast("bigint").alias(
                "delta"
            ),
        )
        .filter(F.col("delta").isNotNull())
    )


@query(
    "q_skyline",
    oracle="""
    WITH pts AS (
        SELECT p_partkey,
               CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                 AS price_cents,
               CAST(p_size AS BIGINT) AS size
        FROM part
    ),
    ctx AS (
        SELECT p_partkey, price_cents, size,
               MIN(size) OVER (ORDER BY price_cents
                               RANGE BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING) AS min_cheaper,
               MIN(size) OVER (PARTITION BY price_cents) AS min_same
        FROM pts
    )
    SELECT p_partkey, price_cents, size
    FROM ctx
    WHERE size = min_same
      AND (min_cheaper IS NULL OR size < min_cheaper)
    """,
)
def q_skyline(spark, sf_dir):
    """2-D skyline (Pareto frontier, minimize price AND size): a part
    survives iff no other part is <= on both dimensions and < on one.
    The naive formulation is an all-pairs dominance anti-join (O(n²)
    — 4·10¹⁴ candidate pairs at 100 TB); this lane uses the classic
    sort + running-min rewrite instead: a point is on the frontier
    iff its size is the minimum within its price tie-group AND
    strictly below the running min over all strictly-cheaper points.
    Price quantizes to exact cents so every frame keys on BIGINT
    (FIXTURES.md §C: integer frames are engine-exact). The Spark plan
    avoids even the single-partition global sort the oracle uses: it
    BANDS the price axis (cents DIV 1e5), computes the running min
    inside each band in parallel, and carries the cross-band prefix
    min through a band-count-sized serial window — the same
    partition-then-tiny-serial-pass shape as gap_ranges(). Fuzz-pinned
    ≡ the naive dominance join."""
    part = t(spark, sf_dir, "part")
    pts = part.select(
        "p_partkey",
        F.expr(
            "CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
        ).alias("price_cents"),
        F.col("p_size").cast("bigint").alias("size"),
    )
    return skyline_frontier(pts)


def skyline_frontier(pts, band_size: int = 100000):
    """Banded 2-D skyline (minimize price_cents AND size) over columns
    (p_partkey, price_cents, size): frontier = points whose size is
    minimal within their exact-price tie-group and strictly below the
    min size of every strictly-cheaper point. min-over-cheaper splits
    into a band-parallel running min plus a prefix min over the
    band-count-sized band-minima table — no global sort of the data."""
    banded = pts.withColumn(
        "band", F.expr(f"price_cents DIV {band_size}")
    ).transform(shared_pass)  # feeds the local window AND band mins
    w_local = (
        Window.partitionBy("band")
        .orderBy("price_cents")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_same = Window.partitionBy("price_cents")
    local = banded.select(
        "p_partkey",
        "band",
        "price_cents",
        "size",
        F.min("size").over(w_local).alias("local_min"),
        F.min("size").over(w_same).alias("min_same"),
    )
    band_mins = banded.groupBy("band").agg(F.min("size").alias("band_min"))
    w_prefix = Window.orderBy("band").rowsBetween(
        Window.unboundedPreceding, -1
    )
    prefix = band_mins.select(
        "band", F.min("band_min").over(w_prefix).alias("prefix_min")
    )
    ctx = local.join(F.broadcast(prefix), "band").withColumn(
        # least() skips NULLs in both engines; NULL only if both are
        "min_cheaper",
        F.least("local_min", "prefix_min"),
    )
    return ctx.filter(
        (F.col("size") == F.col("min_same"))
        & (
            F.col("min_cheaper").isNull()
            | (F.col("size") < F.col("min_cheaper"))
        )
    ).select("p_partkey", "price_cents", "size")


@query(
    "q_decile_lift",
    oracle="""
    WITH scored AS (
        SELECT value AS score,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
               event_id
        FROM events
    ),
    tiled AS (
        SELECT y, NTILE(10) OVER (ORDER BY score DESC, event_id) AS decile
        FROM scored
    ),
    per_decile AS (
        SELECT decile, COUNT(*) AS n,
               CAST(SUM(y) AS BIGINT) AS n_pos
        FROM tiled GROUP BY decile
    ),
    tot AS (
        SELECT CAST(SUM(n) AS BIGINT) AS n_tot,
               CAST(SUM(n_pos) AS BIGINT) AS pos_tot
        FROM per_decile
    )
    SELECT CAST(decile AS BIGINT) AS decile, n, n_pos,
           CAST(SUM(n_pos) OVER (ORDER BY decile
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) * 10000 // pos_tot AS cum_capture_bp,
           n_pos * n_tot * 10000 // (n * pos_tot) AS lift_x10000
    FROM per_decile, tot
    """,
)
def q_decile_lift(spark, sf_dir):
    """Gains/lift table for the same score→label setup q_auc
    evaluates (event value as score, purchase as positive): score
    deciles (total-order NTILE with event_id tiebreak), cumulative
    positive capture in bp, and per-decile lift ×10⁴ — all truncating
    integer arithmetic, no rate ever materializes as a double. The
    model-triage companion to AUC/PR: 'how much of the signal do the
    top-k% catch'.

    Scale bound: exact NTILE is one global sort of the EVAL SET (the
    table a lift table is computed on — samples, not the corpus). For
    corpus-scale scoring, cut deciles at KLL thresholds
    (q_approx_percentiles) and keep this exact form as the oracle on
    the sample — the same exact-vs-sketch swap q_funnel_timing
    documents."""
    from pyspark.sql import Window as W

    ev = t(spark, sf_dir, "events")
    scored = ev.select(
        F.col("value").alias("score"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        "event_id",
    )
    tiled = scored.select(
        "y",
        F.ntile(10).over(W.orderBy(F.desc("score"), F.asc("event_id"))).alias(
            "decile"
        ),
    )
    per_decile = tiled.groupBy("decile").agg(
        F.count("*").alias("n"), F.sum("y").cast("bigint").alias("n_pos")
    )
    wt = W.partitionBy()
    wc = W.orderBy("decile").rowsBetween(W.unboundedPreceding, 0)
    return per_decile.select(
        F.col("decile").cast("bigint").alias("decile"),
        "n",
        "n_pos",
        F.expr(
            "CAST(SUM(n_pos) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED "
            "PRECEDING AND CURRENT ROW) AS BIGINT) * 10000 "
            "DIV CAST(SUM(n_pos) OVER () AS BIGINT)"
        ).alias("cum_capture_bp"),
        F.expr(
            "n_pos * CAST(SUM(n) OVER () AS BIGINT) * 10000 "
            "DIV (n * CAST(SUM(n_pos) OVER () AS BIGINT))"
        ).alias("lift_x10000"),
    )


@query(
    "q_conversion_horizons",
    oracle="""
    WITH stages AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END)
                 AS t_signup,
               MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
                 AS t_purchase
        FROM events GROUP BY user_id
    ),
    conv AS (
        SELECT t_purchase - t_signup AS dt_us,
               t_signup IS NOT NULL AS signed,
               t_signup IS NOT NULL AND t_purchase > t_signup AS converted
        FROM stages
    )
    SELECT CAST(SUM(CASE WHEN signed THEN 1 ELSE 0 END) AS BIGINT)
             AS n_signup,
           CAST(SUM(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT)
             AS n_converted,
           CAST(SUM(CASE WHEN converted AND dt_us <= 3600000000
                         THEN 1 ELSE 0 END) AS BIGINT) * 10000
             // GREATEST(CAST(SUM(CASE WHEN signed THEN 1 ELSE 0 END)
                              AS BIGINT), 1) AS within_1h_bp,
           CAST(SUM(CASE WHEN converted AND dt_us <= 86400000000
                         THEN 1 ELSE 0 END) AS BIGINT) * 10000
             // GREATEST(CAST(SUM(CASE WHEN signed THEN 1 ELSE 0 END)
                              AS BIGINT), 1) AS within_1d_bp,
           CAST(SUM(CASE WHEN converted AND dt_us <= 604800000000
                         THEN 1 ELSE 0 END) AS BIGINT) * 10000
             // GREATEST(CAST(SUM(CASE WHEN signed THEN 1 ELSE 0 END)
                              AS BIGINT), 1) AS within_7d_bp
    FROM conv
    """,
)
def q_conversion_horizons(spark, sf_dir):
    """Conversion CDF at fixed horizons: of users who signed up, what
    share purchased within 1 hour / 1 day / 7 days of first signup —
    the horizon view complementing q_funnel_timing's percentiles.
    Deltas are exact epoch-µs integers; shares exit as basis points
    over the signup base with the GREATEST empty-input guard
    (FIXTURES.md §C). One per-user conditional-min pass + one global
    fold."""
    ev = t(spark, sf_dir, "events")
    stages = ev.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "signup", F.unix_micros(F.col("ts")))
        ).alias("t_signup"),
        F.min(
            F.when(
                F.col("event_type") == "purchase", F.unix_micros(F.col("ts"))
            )
        ).alias("t_purchase"),
    )
    conv = stages.select(
        (F.col("t_purchase") - F.col("t_signup")).alias("dt_us"),
        F.col("t_signup").isNotNull().alias("signed"),
        (
            F.col("t_signup").isNotNull()
            & (F.col("t_purchase") > F.col("t_signup"))
        ).alias("converted"),
    )
    n_signed = "CAST(SUM(CASE WHEN signed THEN 1 ELSE 0 END) AS BIGINT)"

    def horizon(us: int, alias: str):
        return F.expr(
            f"CAST(SUM(CASE WHEN converted AND dt_us <= {us} "
            f"THEN 1 ELSE 0 END) AS BIGINT) * 10000 "
            f"DIV GREATEST({n_signed}, 1)"
        ).alias(alias)

    return conv.agg(
        F.expr(n_signed).alias("n_signup"),
        F.expr(
            "CAST(SUM(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("n_converted"),
        horizon(3_600_000_000, "within_1h_bp"),
        horizon(86_400_000_000, "within_1d_bp"),
        horizon(604_800_000_000, "within_7d_bp"),
    )


@query(
    "q_moments",
    oracle="""
    WITH sums AS (
        SELECT l_returnflag,
               COUNT(*) AS n,
               SUM(CAST(l_quantity AS BIGINT)) AS s1,
               SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
                   AS s2,
               SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
                   * CAST(l_quantity AS BIGINT)) AS s3,
               SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
                   * CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
                   AS s4
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, CAST(n AS BIGINT) AS n,
           ROUND(CAST(s1 AS DOUBLE) / n, 4) AS mean_q,
           ROUND(CAST(s2 AS DOUBLE) / n
                 - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n), 4)
               AS var_q,
           ROUND((CAST(s3 AS DOUBLE) / n
                  - 3 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
                  + 2 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                    * (CAST(s1 AS DOUBLE) / n))
                 / ((CAST(s2 AS DOUBLE) / n
                     - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
                    * SQRT(CAST(s2 AS DOUBLE) / n
                           - (CAST(s1 AS DOUBLE) / n)
                             * (CAST(s1 AS DOUBLE) / n))), 4) AS skew_q
    FROM sums
    """,
)
def q_moments(spark, sf_dir):
    """Exact higher moments per group (mean / variance / skewness of
    l_quantity) from raw integer power sums — the column-profiler
    statistic beyond q_column_stats. Quantities are integral, so the
    power sums are exact BIGINTs (one map-side-combining aggregate);
    the moment formulas then run on exact inputs in IEEE doubles —
    identical text, identical results in both engines (sqrt is
    correctly rounded; no libm-divergent calls). Engine skewness()
    builtins disagree on bias correction, which is why the lane
    derives from sums."""
    li = t(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("bigint")
    sums = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(q).alias("s1"),
        F.sum(q * q).alias("s2"),
        F.sum(q * q * q).alias("s3"),
        F.sum(q * q * q * q).alias("s4"),
    )
    n = F.col("n")
    m1 = F.col("s1").cast("double") / n
    e2 = F.col("s2").cast("double") / n
    e3 = F.col("s3").cast("double") / n
    var = e2 - m1 * m1
    m3c = e3 - 3 * m1 * e2 + 2 * m1 * m1 * m1
    return sums.select(
        "l_returnflag",
        n.cast("bigint").alias("n"),
        F.round(m1, 4).alias("mean_q"),
        F.round(var, 4).alias("var_q"),
        F.round(m3c / (var * F.sqrt(var)), 4).alias("skew_q"),
    )


@query(
    "q_rolling_corr",
    oracle="""
    WITH daily AS (
        SELECT CAST(l_shipdate AS DATE) AS day,
               CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) // 100 AS x,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS y
        FROM lineitem GROUP BY 1
    ),
    win AS (
        SELECT day,
               CAST(COUNT(*) OVER w AS BIGINT) AS cnt,
               CAST(SUM(x) OVER w AS BIGINT) AS sx,
               CAST(SUM(y) OVER w AS BIGINT) AS sy,
               CAST(SUM(x * y) OVER w AS BIGINT) AS sxy,
               CAST(SUM(x * x) OVER w AS BIGINT) AS sxx,
               CAST(SUM(y * y) OVER w AS BIGINT) AS syy
        FROM daily
        WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT day,
           CASE WHEN (cnt * sxx - sx * sx) = 0 OR (cnt * syy - sy * sy) = 0
                THEN NULL
                ELSE ROUND(CAST(cnt * sxy - sx * sy AS DOUBLE)
                           / (SQRT(CAST(cnt * sxx - sx * sx AS DOUBLE))
                              * SQRT(CAST(cnt * syy - sy * sy AS DOUBLE))), 4)
           END AS corr7
    FROM win WHERE cnt = 7
    """,
)
def q_rolling_corr(spark, sf_dir):
    """7-day rolling Pearson correlation between daily revenue
    (integer dollars) and daily quantity — exact BIGINT window sums of
    x, y, xy, x², y² (the co-moment identity), with the only float ops
    two int->double conversions, two sqrt (correctly rounded), one
    divide — engine-identical. The window runs over the DAILY table
    (calendar-bounded, thousands of rows at any corpus size), not over
    raw lineitems; the daily fold is the only corpus-scale pass."""
    li = t(spark, sf_dir, "lineitem")
    cents = (
        F.col("l_extendedprice").cast("decimal(18,2)") * 100
    ).cast("bigint")
    daily = (
        li.groupBy(F.to_date("l_shipdate").alias("day"))
        .agg(
            F.expr(
                "CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 "
                "AS BIGINT)) AS BIGINT) DIV 100"
            ).alias("x"),
            F.sum(F.col("l_quantity").cast("bigint")).cast("bigint")
            .alias("y"),
        )
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    win = daily.select(
        "day",
        F.count("*").over(w).cast("bigint").alias("cnt"),
        F.sum("x").over(w).cast("bigint").alias("sx"),
        F.sum("y").over(w).cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).cast("bigint").alias("syy"),
    )
    dx = F.col("cnt") * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = F.col("cnt") * F.col("syy") - F.col("sy") * F.col("sy")
    num = F.col("cnt") * F.col("sxy") - F.col("sx") * F.col("sy")
    corr = F.when((dx == 0) | (dy == 0), F.lit(None)).otherwise(
        F.round(
            num.cast("double")
            / (F.sqrt(dx.cast("double")) * F.sqrt(dy.cast("double"))), 4
        )
    )
    return win.filter(F.col("cnt") == 7).select("day", corr.alias("corr7"))


@query(
    "q_iqr_outliers",
    oracle="""
    WITH ranked AS (
        SELECT l_returnflag, l_extendedprice,
               ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                  ORDER BY l_extendedprice, l_orderkey,
                                           l_linenumber) AS rn,
               COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        FROM lineitem
    ),
    q AS (
        SELECT l_returnflag,
               MAX(CASE WHEN rn = GREATEST((n + 1) // 4, 1)
                        THEN l_extendedprice END) AS q1,
               MAX(CASE WHEN rn = GREATEST(3 * (n + 1) // 4, 1)
                        THEN l_extendedprice END) AS q3
        FROM ranked GROUP BY l_returnflag
    )
    SELECT l.l_returnflag, q.q1, q.q3,
           COUNT(CASE WHEN l.l_extendedprice < q.q1 - 1.5 * (q.q3 - q.q1)
                        OR l.l_extendedprice > q.q3 + 1.5 * (q.q3 - q.q1)
                      THEN 1 END) AS n_outliers
    FROM lineitem l JOIN q ON l.l_returnflag = q.l_returnflag
    GROUP BY l.l_returnflag, q.q1, q.q3
    """,
)
def q_iqr_outliers(spark, sf_dir):
    """Tukey-fence outlier audit per group: DISCRETE rank-select
    quartiles (observed values, never interpolated), 1.5×IQR fences in
    IEEE arithmetic on those exact observed doubles, outliers counted
    on a broadcast join-back — the box-plot diagnostic beside the
    z-score and MAD outlier lanes."""
    li = t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    wn = Window.partitionBy("l_returnflag")
    ranked = li.select(
        "l_returnflag", "l_extendedprice",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    q = ranked.groupBy("l_returnflag").agg(
        F.max(F.when(F.expr("rn = GREATEST((n + 1) DIV 4, 1)"),
                     F.col("l_extendedprice"))).alias("q1"),
        F.max(F.when(F.expr("rn = GREATEST(3 * (n + 1) DIV 4, 1)"),
                     F.col("l_extendedprice"))).alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    is_out = (
        (F.col("l_extendedprice") < F.col("q1") - 1.5 * iqr)
        | (F.col("l_extendedprice") > F.col("q3") + 1.5 * iqr)
    )
    return (
        li.join(F.broadcast(q), "l_returnflag")
        .groupBy("l_returnflag", "q1", "q3")
        .agg(F.count(F.when(is_out, 1)).alias("n_outliers"))
        .select("l_returnflag", "q1", "q3", "n_outliers")
    )


@query(
    "q_corr_matrix",
    oracle="""
    WITH sums AS (
        SELECT l_returnflag, COUNT(*) AS n,
               SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                        AS BIGINT) // 100) AS sp,
               SUM(CAST(l_quantity AS BIGINT)) AS sq,
               SUM(CAST(CAST(l_discount AS DECIMAL(18,2)) * 100
                        AS BIGINT)) AS sd,
               SUM((CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                         AS BIGINT) // 100)
                   * (CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                           AS BIGINT) // 100)) AS spp,
               SUM(CAST(l_quantity AS BIGINT)
                   * CAST(l_quantity AS BIGINT)) AS sqq,
               SUM(CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT)
                   * CAST(CAST(l_discount AS DECIMAL(18,2)) * 100
                          AS BIGINT)) AS sdd,
               SUM((CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                         AS BIGINT) // 100)
                   * CAST(l_quantity AS BIGINT)) AS spq,
               SUM((CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                         AS BIGINT) // 100)
                   * CAST(CAST(l_discount AS DECIMAL(18,2)) * 100
                          AS BIGINT)) AS spd,
               SUM(CAST(l_quantity AS BIGINT)
                   * CAST(CAST(l_discount AS DECIMAL(18,2)) * 100
                          AS BIGINT)) AS sqd
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, CAST(n AS BIGINT) AS n,
           ROUND((CAST(n AS DOUBLE) * CAST(spq AS DOUBLE)
                  - CAST(sp AS DOUBLE) * CAST(sq AS DOUBLE))
                 / (SQRT(CAST(n AS DOUBLE) * CAST(spp AS DOUBLE)
                         - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE))
                    * SQRT(CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE)
                           - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))), 4)
               AS r_price_qty,
           ROUND((CAST(n AS DOUBLE) * CAST(spd AS DOUBLE)
                  - CAST(sp AS DOUBLE) * CAST(sd AS DOUBLE))
                 / (SQRT(CAST(n AS DOUBLE) * CAST(spp AS DOUBLE)
                         - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE))
                    * SQRT(CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE)
                           - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))), 4)
               AS r_price_disc,
           ROUND((CAST(n AS DOUBLE) * CAST(sqd AS DOUBLE)
                  - CAST(sq AS DOUBLE) * CAST(sd AS DOUBLE))
                 / (SQRT(CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE)
                         - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
                    * SQRT(CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE)
                           - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))), 4)
               AS r_qty_disc
    FROM sums
    """,
)
def q_corr_matrix(spark, sf_dir):
    """Pairwise Pearson correlation matrix (price / quantity /
    discount) per group from ONE pass of exact integer sufficient
    statistics — price quantized to integer dollars, discount to
    integer percent, so every sum and cross-product is an exact BIGINT
    (bounded to < 2^63 at sf10); the correlation formula then runs on
    exact inputs in IEEE doubles, identical text both engines.
    Engine corr() builtins are float-accumulation-order dependent —
    this lane is not."""
    li = t(spark, sf_dir, "lineitem")
    p = F.expr(
        "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) DIV 100"
    )
    qy = F.col("l_quantity").cast("bigint")
    d = (F.col("l_discount").cast("decimal(18,2)") * 100).cast("bigint")
    sums = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(p).alias("sp"), F.sum(qy).alias("sq"), F.sum(d).alias("sd"),
        F.sum(p * p).alias("spp"), F.sum(qy * qy).alias("sqq"),
        F.sum(d * d).alias("sdd"),
        F.sum(p * qy).alias("spq"), F.sum(p * d).alias("spd"),
        F.sum(qy * d).alias("sqd"),
    )

    def corr(sxy, sx, sy, sxx, syy):
        n = F.col("n").cast("double")
        num = n * F.col(sxy).cast("double") \
            - F.col(sx).cast("double") * F.col(sy).cast("double")
        dx = n * F.col(sxx).cast("double") \
            - F.col(sx).cast("double") * F.col(sx).cast("double")
        dy = n * F.col(syy).cast("double") \
            - F.col(sy).cast("double") * F.col(sy).cast("double")
        return F.round(num / (F.sqrt(dx) * F.sqrt(dy)), 4)

    return sums.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n"),
        corr("spq", "sp", "sq", "spp", "sqq").alias("r_price_qty"),
        corr("spd", "sp", "sd", "spp", "sdd").alias("r_price_disc"),
        corr("sqd", "sq", "sd", "sqq", "sdd").alias("r_qty_disc"),
    )


# Pre/post boundary of the experiment lanes (q_cuped, q_diff_in_diff):
# the same fixed mid-month timestamp the drift lanes use. Every mean
# there is one integer-cents sum / count division, every estimator a
# fixed IEEE expression over identically-derived doubles, so both
# engines agree bit-for-bit without a rounding exit.
_SPLIT = "2024-01-16 00:00:00"


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
        F.sum(F.when(F.col("ts") < split, to_cents("value")).otherwise(0))
        .cast("bigint")
        .alias("x"),
        F.sum(F.when(F.col("ts") >= split, to_cents("value")).otherwise(0))
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
        to_cents("value").alias("cents"),
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
        .agg(F.sum(to_cents("o_totalprice")).cast("bigint").alias("rev"))
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
        to_cents("value").alias("cents"), (F.col("user_id") % 2).alias("grp")
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
        to_cents("value").alias("cents"), (F.col("user_id") % 2).alias("grp")
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
