"""Time-series lane over the events stream-table: OHLC bar resampling,
rolling exact medians, and EWMA smoothing — the shapes a metrics/
feature-engineering pipeline runs constantly — plus calendar
arithmetic on the order dates (business-day lead times, year-over-
year growth) and sweep-line interval coverage (plain and hot-key
salted).

Engine discipline notes (FIXTURES.md §C):

- Bars exit as *formatted strings* at bar granularity, never raw
  timestamps (container-tz gotcha — .claude/skills/verify).
- Open/close use explicit ROW_NUMBER endpoints with an
  (ts, event_id) tiebreak on BOTH engines — min_by/arg_min tie
  behavior is engine-defined, row_number is not.
- Rolling median is computed from an explicitly sorted frame list
  with the same index arithmetic on both engines (Spark's
  percentile/median interpolation vs DuckDB's quantile_cont is NOT
  guaranteed bit-identical; element_at + (a+b)/2.0 is).
- EWMA is a left fold over the ordered frame (higher-order
  functions: Spark F.aggregate ≡ DuckDB list_reduce, same operand
  order, same doubles).

At scale: everything here is a single window pass per user/bar key —
rolling state never leaves the executor, and the per-key frame is
bounded (5/10 rows), so memory is O(frame), not O(partition).
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from team_02_spark.queries.registry import query
from team_02_spark.queries._util import t


@query(
    "q_ohlc_bars",
    oracle="""
    WITH r AS (
      SELECT event_type, date_trunc('hour', ts) AS bkt, value,
             ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                ORDER BY ts, event_id) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM events
    )
    SELECT event_type, strftime(bkt, '%Y-%m-%d %H:00') AS bar_hour,
           MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
           COUNT(*) AS n_events
    FROM r
    GROUP BY event_type, bar_hour
    """,
)
def q_ohlc_bars(spark, sf_dir):
    """Resample the event stream into hourly OHLC bars per event type.
    One window pass tags the bar endpoints (first/last by (ts,
    event_id) — deterministic under ts ties), one aggregation folds
    the bar. The window and the aggregation share the same
    (event_type, hour) key, so Spark reuses a single shuffle."""
    ev = t(spark, sf_dir, "events").withColumn(
        "bkt", F.date_trunc("hour", F.col("ts"))
    )
    w_a = Window.partitionBy("event_type", "bkt").orderBy("ts", "event_id")
    w_d = Window.partitionBy("event_type", "bkt").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        ev.withColumn("rn_a", F.row_number().over(w_a))
        .withColumn("rn_d", F.row_number().over(w_d))
        .groupBy(
            "event_type",
            F.date_format("bkt", "yyyy-MM-dd HH:00").alias("bar_hour"),
        )
        .agg(
            F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
            F.count("*").alias("n_events"),
        )
    )


@query(
    "q_rolling_median",
    oracle="""
    WITH fr AS (
      SELECT user_id, event_id,
             list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS l
      FROM events
    )
    SELECT user_id, event_id,
           CASE WHEN len(l) % 2 = 1
                THEN list_sort(l)[CAST(FLOOR((len(l) + 1) / 2) AS INT)]
                ELSE (list_sort(l)[CAST(FLOOR(len(l) / 2) AS INT)]
                      + list_sort(l)[CAST(FLOOR(len(l) / 2) AS INT) + 1])
                     / CAST(2.0 AS DOUBLE)
           END AS rolling_med
    FROM fr
    """,
)
def q_rolling_median(spark, sf_dir):
    """Exact rolling median of the last 5 events per user. The frame
    is collected (bounded: 5 rows), sorted, and indexed with explicit
    midpoint arithmetic — identical formula on both engines, immune
    to engine-specific quantile interpolation. Per-user state stays
    inside one window pass."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, Window.currentRow)
    )
    lst = F.array_sort(F.collect_list("value").over(w))
    n = F.size(lst)
    odd = F.element_at(lst, F.floor((n + 1) / 2).cast("int"))
    even = (
        F.element_at(lst, F.floor(n / 2).cast("int"))
        + F.element_at(lst, F.floor(n / 2).cast("int") + 1)
    ) / F.lit(2.0)
    ev = t(spark, sf_dir, "events")
    return ev.select(
        "user_id",
        "event_id",
        F.when(n % 2 == 1, odd).otherwise(even).alias("rolling_med"),
    )


@query(
    "q_ewma",
    oracle="""
    WITH fr AS (
      SELECT user_id, event_id, value,
             list(struct_pack(ts := ts, event_id := event_id, value := value))
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS l
      FROM events
    )
    SELECT user_id, event_id, value,
           list_reduce(
             list_transform(list_sort(l), x -> x.value),
             (acc, x) -> x * CAST(0.3 AS DOUBLE) + acc * CAST(0.7 AS DOUBLE)
           ) AS ewma
    FROM fr
    """,
)
def q_ewma(spark, sf_dir):
    """EWMA (alpha = 0.3) over each user's last 10 events: a left fold
    over the ordered frame, seeded with the frame's first value —
    Spark's F.aggregate and DuckDB's list_reduce run the identical
    operand order, so the iterated double state matches exactly. The
    frame list is sorted via (ts, event_id, value) structs, NOT
    collection order (collect_list order inside a window frame is not
    a contract)."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, Window.currentRow)
    )
    lst = F.transform(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "value")).over(w)
        ),
        lambda s: s["value"],
    )
    ewma = F.aggregate(
        F.slice(lst, F.lit(2), F.greatest(F.size(lst) - 1, F.lit(0))),
        F.element_at(lst, 1),
        lambda acc, x: x * F.lit(0.3) + acc * F.lit(0.7),
    )
    ev = t(spark, sf_dir, "events")
    return ev.select("user_id", "event_id", "value", ewma.alias("ewma"))


@query(
    "q_trailing_hour",
    oracle="""
    SELECT user_id, event_id,
           COUNT(*) OVER w AS n_trailing_1h,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE)
             AS sum_trailing_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
)
def q_trailing_hour(spark, sf_dir):
    """Trailing-one-hour per-user activity (count + sum) via a
    TIME-BASED range frame: the frame key is epoch MICROSECONDS as a
    long (`unix_micros` ≡ DuckDB `epoch_us` — integer, so the frame
    boundary comparison is exact; epoch *seconds* would truncate vs
    DuckDB's fractional epoch()). One hashpartitioning(user_id)
    exchange; per-row state is the sliding frame only — this is the
    batch twin of the streaming sliding window (T1)."""
    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.count("*").over(w).alias("n_trailing_1h"),
        F.sum(F.col("value").cast("decimal(18,4)")).over(w).cast("double")
        .alias("sum_trailing_1h"),
    )


@query(
    "q_cumulative_users",
    oracle="""
    WITH fs AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
      FROM events GROUP BY user_id
    ),
    daily AS (
      SELECT first_day, COUNT(*) AS new_users FROM fs GROUP BY first_day
    )
    SELECT first_day, new_users,
           CAST(SUM(new_users) OVER (ORDER BY first_day
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS BIGINT) AS cum_users
    FROM daily
    """,
)
def q_cumulative_users(spark, sf_dir):
    """User-acquisition curve via the first-touch pattern: a naive
    cumulative COUNT(DISTINCT user) per day is O(days × users); the
    scalable identity is cum_distinct(day) = running sum of FIRST-SEEN
    counts — one user-keyed aggregate, one tiny per-day aggregate, one
    window over |days| rows. Integer arithmetic throughout."""
    ev = t(spark, sf_dir, "events")
    fs = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_day")
    )
    daily = fs.groupBy("first_day").agg(F.count("*").alias("new_users"))
    w = Window.orderBy("first_day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return daily.select(
        "first_day", "new_users", F.sum("new_users").over(w).alias("cum_users")
    )


@query(
    "q_locf",
    oracle="""
    SELECT user_id, event_id,
           LAST_VALUE(CASE WHEN event_type <> 'error' THEN value END
                      IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS filled
    FROM events
    """,
)
def q_locf(spark, sf_dir):
    """Last-observation-carried-forward imputation: error events'
    readings are treated as missing and forward-filled from the
    user's most recent healthy reading (NULL until one exists — the
    leading-edge semantics both engines share). IGNORE NULLS +
    running frame is the one-pass distributed form of the classic
    time-series ffill; same single user_id exchange as the other
    rolling lanes."""
    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    healthy = F.when(F.col("event_type") != "error", F.col("value"))
    return ev.select(
        "user_id",
        "event_id",
        F.last(healthy, ignorenulls=True).over(w).alias("filled"),
    )


@query(
    "q_max_open_orders",
    oracle="""
    WITH iv AS (
        SELECT CAST(o.o_orderdate AS DATE) AS lo,
               CAST(MAX(l.l_shipdate) AS DATE) AS hi
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey, o.o_orderdate
    ),
    deltas AS (
        SELECT lo AS d, 1 AS x FROM iv
        UNION ALL
        SELECT hi + 1, -1 FROM iv
    ),
    agg AS (SELECT d, CAST(SUM(x) AS BIGINT) AS dd FROM deltas GROUP BY d),
    run AS (
        SELECT d,
               SUM(dd) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS conc
        FROM agg
    )
    SELECT CAST(conc AS BIGINT) AS peak_open_orders,
           CAST(d AS DATE) AS peak_date
    FROM run
    ORDER BY conc DESC, d
    LIMIT 1
    """,
)
def q_max_open_orders(spark, sf_dir):
    """Peak interval concurrency by SWEEP-LINE — the scale-correct
    form of "how many orders were open at once": each order is an
    interval [o_orderdate, last shipdate]; a naive answer self-joins
    intervals on overlap (quadratic in the open set), the sweep-line
    form emits +1/-1 boundary deltas, aggregates them per DATE
    (calendar-bounded, ~2.5k rows regardless of corpus size — the
    fact tables collapse BEFORE any ordering), and takes a running
    sum. The single-partition window is over that calendar-sized
    table only, never the data; at 100 TB the only corpus-scale work
    is the per-order max-shipdate aggregate."""
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    iv = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.max("l_shipdate").cast("date").alias("hi"))
        .select(F.col("o_orderdate").cast("date").alias("lo"), "hi")
    )
    deltas = iv.select(F.col("lo").alias("d"), F.lit(1).alias("x")).unionAll(
        iv.select(F.date_add("hi", 1).alias("d"), F.lit(-1).alias("x"))
    )
    agg = deltas.groupBy("d").agg(F.sum("x").cast("bigint").alias("dd"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    run = agg.withColumn("conc", F.sum("dd").over(w))
    return run.select(
        F.col("conc").cast("bigint").alias("peak_open_orders"),
        F.col("d").cast("date").alias("peak_date"),
    ).orderBy(F.desc("peak_open_orders"), "peak_date").limit(1)


@query(
    "q_seasonal_index",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
        FROM orders
        GROUP BY 1
    ),
    dow AS (
        SELECT isodow(d) AS iso_dow,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(rev) AS DOUBLE) / COUNT(*) AS avg_rev
        FROM daily
        GROUP BY 1
    ),
    overall AS (
        SELECT CAST(SUM(rev) AS DOUBLE) / COUNT(*) AS base FROM daily
    )
    SELECT iso_dow, n_days,
           ROUND(avg_rev, 4) AS avg_rev,
           ROUND(avg_rev / (SELECT base FROM overall), 6) AS seasonal_index
    FROM dow
    """,
)
def q_seasonal_index(spark, sf_dir):
    """Day-of-week seasonality index: average daily revenue per ISO
    weekday divided by the overall daily average — the multiplicative
    seasonal factor behind staffing/capacity curves and the
    denominator for deseasonalized anomaly checks. Two cheap levels:
    the corpus collapses to calendar-days (exact-decimal revenue per
    day), then to 7 weekday rows; the base joins in as a broadcast
    1-row aggregate. ISO weekday (Mon=1) on both engines — Spark's
    default dayofweek is Sun=1 while DuckDB's is Sun=0, the classic
    cross-engine off-by-one this lane deliberately sidesteps via
    weekday()+1 ≡ isodow()."""
    orders = t(spark, sf_dir, "orders")
    dec = "decimal(18,4)"
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("d")
    ).agg(F.sum(F.col("o_totalprice").cast(dec)).alias("rev"))
    dow = daily.groupBy(
        (F.weekday("d") + 1).cast("bigint").alias("iso_dow")
    ).agg(
        F.count("*").cast("bigint").alias("n_days"),
        (F.sum("rev").cast("double") / F.count("*")).alias("avg_rev"),
    )
    overall = daily.agg(
        (F.sum("rev").cast("double") / F.count("*")).alias("base")
    )
    return dow.crossJoin(F.broadcast(overall)).select(
        "iso_dow", "n_days",
        F.round("avg_rev", 4).alias("avg_rev"),
        F.round(F.col("avg_rev") / F.col("base"), 6).alias("seasonal_index"),
    )


@query(
    "q_mom_growth",
    oracle="""
    WITH m AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS rev_cents
        FROM orders
        GROUP BY 1
    )
    SELECT month, rev_cents,
           LAG(rev_cents) OVER (ORDER BY month) AS prev_cents,
           CAST(CASE WHEN LAG(rev_cents) OVER (ORDER BY month) IS NULL
                     THEN NULL
                     ELSE ((rev_cents - LAG(rev_cents) OVER
                            (ORDER BY month)) * 10000)
                          // LAG(rev_cents) OVER (ORDER BY month)
                END AS BIGINT) AS growth_bp
    FROM m
    """,
)
def q_mom_growth(spark, sf_dir):
    """Month-over-month revenue growth in integer BASIS POINTS — the
    reporting staple, done with the exact-integer discipline end to
    end: revenue as BIGINT cents, growth as (delta*10000) floor-DIV
    prev — no double, no ROUND boundary (FIXTURES.md §C, the
    q_cohort_ltv lesson; Spark `DIV` and DuckDB `//` BOTH truncate
    toward zero on integers — checked explicitly, and the fixture's
    41 negative-growth months exercise the negative branch). The
    corpus collapses to calendar months
    before the single tiny ordering window; the only corpus-scale
    work is one map-side-combined month aggregate."""
    orders = t(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
    m = orders.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month")
    ).agg(F.sum(cents).cast("bigint").alias("rev_cents"))
    w = Window.orderBy("month")
    prev = F.lag("rev_cents").over(w)
    return m.select(
        "month", "rev_cents",
        prev.alias("prev_cents"),
        F.when(prev.isNull(), F.lit(None)).otherwise(
            F.expr("(rev_cents - LAG(rev_cents) OVER (ORDER BY month)) "
                   "* 10000 DIV LAG(rev_cents) OVER (ORDER BY month)")
        ).cast("bigint").alias("growth_bp"),
    )


@query(
    "q_business_days",
    oracle="""
    WITH bd AS (
        SELECT o.o_orderpriority,
               (5 * ((date_diff('day', DATE '1970-01-01',
                                CAST(l.l_shipdate AS DATE)) + 3) // 7)
                + LEAST((date_diff('day', DATE '1970-01-01',
                                   CAST(l.l_shipdate AS DATE)) + 3) % 7, 5))
               - (5 * ((date_diff('day', DATE '1970-01-01',
                                  CAST(o.o_orderdate AS DATE)) + 3) // 7)
                  + LEAST((date_diff('day', DATE '1970-01-01',
                                     CAST(o.o_orderdate AS DATE)) + 3) % 7, 5))
                   AS bdays
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    )
    SELECT o_orderpriority,
           COUNT(*) AS n,
           CAST(SUM(bdays * 100) AS BIGINT) // COUNT(*) AS avg_bd_e2,
           CAST(MAX(bdays) AS BIGINT) AS max_bd
    FROM bd GROUP BY o_orderpriority
    """,
)
def q_business_days(spark, sf_dir):
    """Business-day (Mon-Fri) lead time between order and ship date —
    pure integer calendar arithmetic, no engine weekday builtins
    (their day-numbering conventions differ): with s = epoch_day + 3
    (so s % 7 == 0 on a Monday), g(d) = 5*(s DIV 7) + LEAST(s%7, 5)
    counts weekdays before d, and the lead is g(ship) - g(order).
    Everything is non-negative integer DIV/% — engine-identical."""
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")

    # build via SQL expr text once — identical arithmetic both engines
    def g_sql(c):
        s = f"(datediff(to_date({c}), DATE '1970-01-01') + 3)"
        return f"(5 * ({s} DIV 7) + LEAST({s} % 7, 5))"

    joined = orders.join(li, orders.o_orderkey == li.l_orderkey).select(
        "o_orderpriority",
        F.expr(f"{g_sql('l_shipdate')} - {g_sql('o_orderdate')}")
        .alias("bdays"),
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.expr("CAST(SUM(bdays * 100) AS BIGINT) DIV COUNT(*)")
        .alias("avg_bd_e2"),
        F.max("bdays").cast("bigint").alias("max_bd"),
    )


@query(
    "q_yoy_growth",
    oracle="""
    WITH monthly AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS cents
        FROM orders GROUP BY 1
    )
    SELECT mon, cents,
           CASE WHEN prev IS NULL OR prev = 0 THEN NULL
                ELSE CAST((cents - prev) * 10000 // prev AS BIGINT)
           END AS yoy_bp
    FROM (
        SELECT mon, cents,
               LAG(cents, 12) OVER (ORDER BY mon) AS prev
        FROM monthly
    ) x
    """,
)
def q_yoy_growth(spark, sf_dir):
    """Year-over-year growth in integer basis points: calendar-month
    revenue fold, then LAG 12 over the (calendar-sized) month table.
    Truncating integer division is identical in both engines for
    negative growth too (both DIV and // truncate toward zero); the
    CASE guards missing/zero base months."""
    orders = t(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("mon")
    ).agg(
        F.sum(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("bigint")
        ).cast("bigint").alias("cents")
    )
    w = Window.orderBy("mon")
    return (
        monthly.withColumn("prev", F.lag("cents", 12).over(w))
        .select(
            "mon", "cents",
            F.expr(
                "CASE WHEN prev IS NULL OR prev = 0 THEN NULL "
                "ELSE CAST((cents - prev) * 10000 DIV prev AS BIGINT) END"
            ).alias("yoy_bp"),
        )
    )


# The one date-axis truth both interval-coverage keys are hash-checked
# against: the salted key's re-shard must be a pure physical rewrite.
_INTERVAL_COVERAGE_ORACLE = """
    WITH iv AS (
      SELECT l_suppkey AS supp, CAST(l_shipdate AS DATE) AS s,
             CAST(l_shipdate AS DATE)
               + CAST(1 + CAST(l_quantity AS BIGINT) % 20 AS INTEGER) AS e
      FROM lineitem
    ),
    marked AS (
      SELECT supp, s, e,
             MAX(e) OVER (PARTITION BY supp ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS pmax
      FROM iv
    ),
    isl AS (
      SELECT supp, s, e,
             CAST(SUM(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
               OVER (PARTITION BY supp ORDER BY s, e
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS island
      FROM marked
    ),
    per_isl AS (
      SELECT supp, island, date_diff('day', MIN(s), MAX(e)) AS len_days
      FROM isl GROUP BY supp, island
    )
    SELECT supp, CAST(COUNT(*) AS INT) AS n_islands,
           CAST(SUM(len_days) AS BIGINT) AS covered_days
    FROM per_isl GROUP BY supp
    """


def _transit_intervals(spark, sf_dir):
    """Each lineitem's shipping-transit interval per supplier on the
    date axis: [shipdate, shipdate + 1..20 days], the length derived
    deterministically from the quantity."""
    li = t(spark, sf_dir, "lineitem")
    s = F.to_date("l_shipdate")
    days = (F.col("l_quantity").cast("bigint") % 20 + 1).cast("int")
    return li.select(
        F.col("l_suppkey").alias("supp"),
        s.alias("s"),
        F.date_add(s, days).alias("e"),
    )


@query("q_interval_coverage", oracle=_INTERVAL_COVERAGE_ORACLE)
def q_interval_coverage(spark, sf_dir):
    """Sweep-line interval UNION per key: each lineitem contributes a
    shipping-transit interval [shipdate, shipdate + 1..20 days]
    (length derived deterministically from quantity), and the result
    is the number of merged busy islands and total covered days per
    supplier — overlap-aware coverage, NOT gap-sessionization
    (overlapping intervals from different orders must merge even when
    their starts are dense). Classic sweep line: running MAX(end)
    over the start-ordered window marks island breaks, a cumulative
    sum numbers islands, and coverage is max(end)-min(start) per
    island. Tie rows (equal start) can never open an island (their
    predecessor's end >= the shared start), so the (s, e) window
    order is total for the answer. At 100 TB: one shuffle on the
    partition key, two window passes over it, then an island-bounded
    aggregate — no joins, no driver state."""
    from team_02_spark.operators.analytics import interval_union

    iv = _transit_intervals(spark, sf_dir)
    return interval_union(iv, "supp", "s", "e").select(
        "supp", "n_islands", F.col("covered").alias("covered_days")
    )


@query("q_interval_coverage_salted", oracle=_INTERVAL_COVERAGE_ORACLE)
def q_interval_coverage_salted(spark, sf_dir):
    """q_interval_coverage's answer through the HOT-KEY-SAFE path:
    the same shipping-transit intervals, converted to integer day
    indices, run through `interval_union_salted` (clip at 45-day
    epoch buckets → per-(supp, bucket) sweep → merge pass) instead of
    the single-per-key sweep. The oracle is deliberately the UNSALTED
    date-axis truth, so the driver hash-check pins the operator's
    core claim — the re-shard is a pure physical rewrite with
    bit-identical semantics — on real data at both SFs, the same
    pattern `q_join_salted` uses for the skew join. bucket_width=45
    ≈ 2× the max interval length (21 days), keeping the clip-explode
    factor under ~1.5. At 100 TB this is the variant you run when one
    key's interval history outgrows an executor (SCALING.md saltint
    probe: 16 M one-key intervals, 26.9 s plain → 4.7 s salted)."""
    from team_02_spark.operators.analytics import interval_union_salted

    epoch = F.lit("1990-01-01").cast("date")
    iv = _transit_intervals(spark, sf_dir).select(
        "supp",
        F.datediff("s", epoch).alias("s"),
        F.datediff("e", epoch).alias("e"),
    )
    return interval_union_salted(
        iv, "supp", "s", "e", bucket_width=45
    ).select("supp", "n_islands", F.col("covered").alias("covered_days"))
