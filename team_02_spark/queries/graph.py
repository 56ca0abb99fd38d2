"""Graph lane: iterative graph algorithms expressed as DataFrame
joins — the pattern that scales, because each PageRank/label round is
one shuffle on the edge key, never driver-side adjacency state.

The graph is the customer↔supplier bipartite network induced by the
order flow (edge = "customer bought from supplier", i.e. a distinct
(o_custkey, l_suppkey) pair via lineitem⋈orders). Undirected: each
pair contributes both directions to the edge list.

The dedup lane already carries the other classic (connected
components via min-label propagation, operators/dedup.py); this adds
degree-distribution and degree-assortativity analytics, bounded BFS
shortest paths, triangle counts, and a fixed-iteration PageRank whose
DuckDB oracle is the same computation unrolled as CTEs — rank state
is fixed-point bigint (1e-9 units, integer DIV), so the iterated
state is bit-identical across engines by construction (FIXTURES.md
§C discipline; the decimal formulations diverged at volume).

At 100 TB: the edge list is the only shuffled artifact (distinct on
the pair key), degree and rank updates are map-side-combined
aggregations on edge partitions, and iteration count is fixed —
localCheckpoint between rounds (as connected_components does) caps
the plan depth. PageRank here is 2 unrolled rounds to keep the SQL
twin honest; the loop form lives in tests via the same building
block.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from team_02_spark.queries.registry import query
from team_02_spark.queries._util import t
from team_02_spark.util import shared_pass

# PageRank state is FIXED-POINT INTEGER (units of 1e-9): every
# operation is bigint multiply / integer-DIV / sum, so the iterated
# state is bit-identical in any engine BY CONSTRUCTION. (The r2
# decimal formulations both failed at some scale: DECIMAL(38,18)
# overflowed 2^53 in scaled form; DECIMAL(38,11) exposed the engines'
# different double->decimal rounding paths once sf0.1 summed ~1e6
# terms. Integer arithmetic has no rounding mode to disagree on.)
_ONE = 1_000_000_000  # pr = 1.0
_FLOOR = 150_000_000  # 0.15

_PAIRS_SQL = """
      SELECT DISTINCT 'c' || o.o_custkey AS c_node, 's' || l.l_suppkey AS s_node
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
"""


def _pairs(spark, sf_dir) -> DataFrame:
    """Distinct customer↔supplier co-occurrence pairs. One fact pass
    (orders scales with SF — join strategy left to AQE), one
    distinct-shuffle on the pair."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("c_node"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("s_node"),
        )
        .distinct()
    )


def _edges(spark, sf_dir) -> DataFrame:
    """Undirected edge list (both directions of each pair)."""
    pairs = _pairs(spark, sf_dir)
    return pairs.select(
        F.col("c_node").alias("src"), F.col("s_node").alias("dst")
    ).unionAll(
        pairs.select(F.col("s_node").alias("src"), F.col("c_node").alias("dst"))
    )


@query(
    "q_graph_degree",
    oracle=f"""
    WITH pairs AS ({_PAIRS_SQL}),
    deg AS (
      SELECT c_node, COUNT(*) AS degree FROM pairs GROUP BY c_node
    )
    SELECT degree, COUNT(*) AS n_customers
    FROM deg
    GROUP BY degree
    """,
)
def q_graph_degree(spark, sf_dir):
    """Degree distribution of the customer side (how many distinct
    suppliers each customer transacts with): two cheap aggregations
    after the one distinct-pair shuffle. The skew diagnostic you run
    before choosing a partitioning for any graph workload."""
    pairs = _pairs(spark, sf_dir)
    deg = pairs.groupBy("c_node").agg(F.count("*").alias("degree"))
    return deg.groupBy("degree").agg(F.count("*").alias("n_customers"))


@query(
    "q_pagerank",
    oracle=f"""
    WITH pairs AS ({_PAIRS_SQL}),
    edges AS (
      SELECT c_node AS src, s_node AS dst FROM pairs
      UNION ALL
      SELECT s_node AS src, c_node AS dst FROM pairs
    ),
    deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
    pr1 AS (
      SELECT e.dst AS node,
             {_FLOOR} + (85 * SUM({_ONE} // d.deg)) // 100 AS pr_int
      FROM edges e JOIN deg d ON e.src = d.src
      GROUP BY e.dst
    ),
    pr2 AS (
      SELECT e.dst AS node,
             {_FLOOR} + (85 * SUM(p.pr_int // d.deg)) // 100 AS pr_int
      FROM edges e
      JOIN deg d ON e.src = d.src
      JOIN pr1 p ON e.src = p.node
      GROUP BY e.dst
    )
    SELECT node, CAST(pr_int AS DOUBLE) / 1000000000.0 AS pr FROM pr2
    ORDER BY pr_int DESC, node
    LIMIT 20
    """,
)
def q_pagerank(spark, sf_dir):
    """PageRank (damping 0.85, uniform init 1.0), two unrolled rounds
    on the undirected bipartite graph; top-20 nodes. Each round is
    edges ⋈ deg ⋈ prev-rank then a groupBy(dst) — the rank table stays
    distributed; nothing touches the driver.

    Cross-engine exactness: rank state is fixed-point bigint (1e-9
    units; damping as ×85 //100). Integer DIV and sums are bit-exact
    in every engine, unlike double→decimal casts whose rounding paths
    disagreed at sf0.1 term counts — see FIXTURES.md §C. The final
    /1e9 exit is an exact int→double conversion (< 2^53) plus one
    correctly-rounded division; the top-20 cut orders by the INTEGER
    state with a node tiebreak, so it is deterministic too."""
    # The edge list feeds three consumers (degree count + one join per
    # rank round). Deliberately NOT persisted: the three subplans are
    # identical, so AQE's ReusedExchange already shares the distinct-
    # pair shuffle across them within the one job (measured: an
    # explicit persist broke that sharing and ran 4-8x slower). With
    # MANY rounds you'd localCheckpoint the edge table instead — the
    # loop form connected_components (operators/dedup.py) does.
    edges = _edges(spark, sf_dir)
    # degree as a WINDOW count over the same src partitioning the
    # rank-contribution join needs anyway — one exchange instead of a
    # separate aggregate + join back
    ed = edges.withColumn(
        "deg", F.count("*").over(Window.partitionBy("src"))
    )

    def rank_round(prev: DataFrame | None) -> DataFrame:
        contrib = (
            ed if prev is None
            else ed.join(prev.withColumnRenamed("node", "src"), "src")
        )
        term = (
            F.expr(f"{_ONE} DIV deg") if prev is None
            else F.expr("pr_int DIV deg")
        )
        return (
            contrib.withColumn("__t", term)
            .groupBy(F.col("dst").alias("node"))
            .agg(
                (F.lit(_FLOOR) + F.expr("(85 * sum(__t)) DIV 100")).alias("pr_int")
            )
        )

    pr1 = rank_round(None)
    pr2 = rank_round(pr1)
    return (
        pr2.orderBy(F.desc("pr_int"), "node")
        .limit(20)
        .select("node", (F.col("pr_int").cast("double") / F.lit(1e9)).alias("pr"))
    )


@query(
    "q_triangles",
    oracle="""
    WITH pairs AS (
        SELECT DISTINCT LEAST(a.l_suppkey, b.l_suppkey) AS u,
                        GREATEST(a.l_suppkey, b.l_suppkey) AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
    ),
    deg AS (
        SELECT n, CAST(COUNT(*) AS BIGINT) AS d FROM (
            SELECT u AS n FROM pairs UNION ALL SELECT v AS n FROM pairs
        ) t GROUP BY n
    ),
    oriented AS (
        SELECT CASE WHEN (du.d < dv.d OR (du.d = dv.d AND p.u < p.v))
                    THEN p.u ELSE p.v END AS src,
               CASE WHEN (du.d < dv.d OR (du.d = dv.d AND p.u < p.v))
                    THEN p.v ELSE p.u END AS dst
        FROM pairs p JOIN deg du ON p.u = du.n JOIN deg dv ON p.v = dv.n
    ),
    od AS (
        SELECT o.src, o.dst, ds.d AS dd, o.dst AS n FROM oriented o
        JOIN deg ds ON o.dst = ds.n
    ),
    wedges AS (
        SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
        FROM od e1 JOIN od e2
          ON e1.src = e2.src
         AND (e1.dd < e2.dd OR (e1.dd = e2.dd AND e1.dst < e2.dst))
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS n_edges,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes
    FROM wedges t JOIN oriented c ON t.v = c.src AND t.w = c.dst
    """,
)
def q_triangles(spark, sf_dir):
    """Triangle count on the supplier co-supply graph (suppliers
    sharing an order), via the MapReduce-classic degree-ordered
    orientation (Suri & Vassilvitskii, WWW 2011): orient every edge
    from its lower-(degree, id) endpoint, enumerate wedges only at
    each edge's low end, close with an oriented-edge equi-join. Each
    triangle is counted exactly once, and wedge fan-out is bounded by
    OUT-degree under the orientation — O(m^1.5) work total regardless
    of hub skew, the property that keeps the join alive on a 100 TB
    power-law graph (a plain undirected wedge join explodes at hubs).
    (r16: per-edge adjacency-array intersection was measured 2.5-4x
    SLOWER than this wedge join — see _triangle_census — so the
    wedge-join form stands as the measured winner, not a leftover.)

    Per-order supplier pairs are bounded by order width (~7 lines),
    so the pair-building self-join never blows up; one distinct
    shuffle dedups multi-order pairs. The pair, degree, and oriented
    frames each feed 3-4 consumers, so all three are lazily
    localCheckpointed — ONE lineitem scan total (an unshared plan
    re-derived the edge list 44 times)."""
    pairs = _cosupply_pairs(spark, sf_dir)
    return _triangle_census(pairs)


def _cosupply_pairs(spark, sf_dir):
    """Distinct undirected supplier co-supply edges (u < v), shared
    across downstream consumers — ONE lineitem scan total."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
               & (F.col("a.l_suppkey") < F.col("b.l_suppkey")))
        .select(F.col("a.l_suppkey").alias("u"), F.col("b.l_suppkey").alias("v"))
        .distinct()
        .transform(shared_pass)
    )


def _triangle_census(pairs):
    """Degree-ordered-orientation triangle count over a distinct
    (u < v) edge frame (already shared-passed). Returns one row
    (n_triangles, n_edges, n_nodes). Shared by the exact and the
    DOULION-sampled lanes — the sampled lane feeds a gated edge frame
    through the identical plan.

    PRECONDITION (r15 advisor): node ids must be non-negative and
    < 2^31 — the wedge/closing keys pack (degree, id) and (id, id)
    pairs into single non-negative longs (x·2^32 + y), which is only
    bijective in that domain (degree < 2^31 then follows, since
    degree <= n_nodes). Holds for TPC-H keys at any SF; a caller
    feeding wider ids (e.g. xxhash64-derived node ids) would
    otherwise get a silently wrong count, so the degree pass below
    raises at execution on any out-of-domain id — one branch per
    NODE row (not per wedge), cost-invisible."""
    _id_ok = (F.col("n") >= 0) & (F.col("n") < F.lit(1 << 31).cast("long"))
    deg = (
        pairs.select(F.col("u").alias("n"))
        .unionAll(pairs.select(F.col("v").alias("n")))
        .groupBy("n").agg(F.count("*").cast("bigint").alias("d"))
        .select(
            F.when(_id_ok, F.col("n")).otherwise(F.raise_error(F.concat(
                F.lit("_triangle_census: node id out of packable "
                      "domain [0, 2^31): "), F.col("n").cast("string")
            ))).alias("n"),
            "d",
        )
        .transform(shared_pass)
    )
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
    oriented = (
        pairs.join(du, "u").join(dv, "v")
        .select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
        .transform(shared_pass)
    )
    od = oriented.join(
        deg.select(F.col("n").alias("dst"), F.col("d").alias("dd")), "dst")
    # r15 optimization (guide §2.3 — narrower types): the wedge
    # enumeration + closing join is the bench's single hottest loop
    # (event-logged: ~95% of the lane's CPU probes the two hash
    # relations). Pack (dd, dst) into ONE non-negative long
    # dd·2³² + dst — node ids and degrees are < 2³¹ at any TPC-H SF
    # (suppkey = 10⁴·SF → 10⁹ at the 100 TB shape; degree ≤ n_nodes)
    # — so the degree-order tie-break (d1 < d2 OR (d1 = d2 AND
    # v < w)) is EXACTLY one long comparison p1 < p2, and the closing
    # join key packs (v, w) the same way: the build side becomes a
    # UNIQUE-key long relation at half the former row width (the
    # probe working set, not the row count, is what bounds this
    # stage). Bijective packing — the triangle count is unchanged.
    #
    # r16: adjacency-list intersection (per-edge
    # size(array_intersect(N+(u), N+(v))) over gathered out-neighbor
    # arrays — the VERDICT r15 #2 candidate) was IMPLEMENTED AND
    # MEASURED: 25.4 s plain / 15.6 s with both adj joins force-
    # broadcast, vs 6.3 s for this wedge join on the same session
    # (sf0.1 best-of-3). Spark's ArrayIntersect builds a fresh
    # OpenHashSet + result array PER CALL — ~454k edges × ~450-entry
    # sets of per-row allocation churn — whereas this wedge join IS
    # the same intersection evaluated against two GLOBAL broadcast
    # hash relations built once per stage. Rejected per guide §1.1
    # (the "ideal" plan's gotcha); these timings are recorded in
    # VERDICT.md, round 16, item 3.
    odp = od.select(
        "src",
        (F.shiftleft(F.col("dd"), 32) + F.col("dst")).alias("p"),
    )
    e1 = odp.select(F.col("src"), F.col("p").alias("p1"))
    e2 = odp.select(F.col("src"), F.col("p").alias("p2"))
    lo = F.lit((1 << 32) - 1).cast("long")
    wedges = e1.join(
        e2, (e1["src"] == e2["src"]) & (F.col("p1") < F.col("p2"))
    ).select(
        (F.shiftleft(F.col("p1").bitwiseAND(lo), 32)
         + F.col("p2").bitwiseAND(lo)).alias("vw")
    )
    closing = oriented.select(
        (F.shiftleft(F.col("src"), 32) + F.col("dst")).alias("vw")
    )
    tri = wedges.join(closing, ["vw"]).agg(
        F.count("*").cast("bigint").alias("n_triangles"))
    return (
        tri.crossJoin(pairs.agg(F.count("*").cast("bigint").alias("n_edges")))
        .crossJoin(deg.agg(F.count("*").cast("bigint").alias("n_nodes")))
    )


@query(
    "q_triangles_approx",
    oracle="""
    WITH pairs AS (
        SELECT DISTINCT LEAST(a.l_suppkey, b.l_suppkey) AS u,
                        GREATEST(a.l_suppkey, b.l_suppkey) AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
    ),
    samp AS (
        SELECT u, v FROM pairs
        WHERE substr(md5(CAST(u AS VARCHAR) || '|' || CAST(v AS VARCHAR)
                         || '|tri'), 1, 8) < '40000000'
    ),
    deg AS (
        SELECT n, CAST(COUNT(*) AS BIGINT) AS d FROM (
            SELECT u AS n FROM samp UNION ALL SELECT v AS n FROM samp
        ) t GROUP BY n
    ),
    oriented AS (
        SELECT CASE WHEN (du.d < dv.d OR (du.d = dv.d AND p.u < p.v))
                    THEN p.u ELSE p.v END AS src,
               CASE WHEN (du.d < dv.d OR (du.d = dv.d AND p.u < p.v))
                    THEN p.v ELSE p.u END AS dst
        FROM samp p JOIN deg du ON p.u = du.n JOIN deg dv ON p.v = dv.n
    ),
    od AS (
        SELECT o.src, o.dst, ds.d AS dd FROM oriented o
        JOIN deg ds ON o.dst = ds.n
    ),
    wedges AS (
        SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
        FROM od e1 JOIN od e2
          ON e1.src = e2.src
         AND (e1.dd < e2.dd OR (e1.dd = e2.dd AND e1.dst < e2.dst))
    ),
    tri AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_sampled_triangles
        FROM wedges t JOIN oriented c ON t.v = c.src AND t.w = c.dst
    )
    SELECT CAST(n_sampled_triangles * 64 AS BIGINT) AS n_triangles_est,
           n_sampled_triangles,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM samp) AS n_sampled_edges,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS n_edges_total
    FROM tri
    """,
)
def q_triangles_approx(spark, sf_dir):
    """DOULION-style approximate triangle count (Tsourakakis et al.,
    KDD 2009) — the scale-relief companion to q_triangles, which is
    enumeration-bound (124.5 M closed triangles at sf0.1 = 75% of the
    bench headline). Each co-supply edge survives a DETERMINISTIC
    md5 keep-gate at p = 1/4 (the q_sample_bernoulli gate discipline:
    first 8 md5 hex chars of "u|v|tri" < 0x40000000 — same rows on
    any engine, run, or partitioning, so the lane stays DuckDB
    hash-checkable, unlike an RNG sample); a triangle survives with
    p^3, so the unbiased estimate is sampled_count x 64. The sampled
    graph feeds the IDENTICAL degree-ordered-orientation census plan
    as the exact lane (_triangle_census), with the wedge join ~16x
    and the closing join ~64x cheaper — the p knob trades variance
    for wall-clock (relative error ~ 1/sqrt(p^3 T), <1% at sf0.1's
    triangle volume). n_edges_total rides along so the observed
    sampling rate is visible next to the estimate."""
    pairs = _cosupply_pairs(spark, sf_dir)
    gate = (
        F.md5(
            F.concat_ws(
                "|",
                F.col("u").cast("string"),
                F.col("v").cast("string"),
                F.lit("tri"),
            )
        ).substr(1, 8)
        < "40000000"
    )
    samp = pairs.filter(gate).transform(shared_pass)
    cen = _triangle_census(samp)
    return cen.select(
        (F.col("n_triangles") * 64).cast("bigint").alias("n_triangles_est"),
        F.col("n_triangles").alias("n_sampled_triangles"),
        F.col("n_edges").alias("n_sampled_edges"),
    ).crossJoin(
        pairs.agg(F.count("*").cast("bigint").alias("n_edges_total"))
    )


@query(
    "q_shortest_path",
    oracle="""
    WITH RECURSIVE pairs AS (
      SELECT DISTINCT 'c' || o.o_custkey AS c_node, 's' || l.l_suppkey AS s_node
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    edges AS (
      SELECT c_node AS src, s_node AS dst FROM pairs
      UNION ALL SELECT s_node, c_node FROM pairs
    ),
    bfs(node, dist) AS (
      SELECT 'c1' AS node, 0 AS dist
      UNION
      SELECT e.dst, b.dist + 1 FROM bfs b JOIN edges e ON e.src = b.node
      WHERE b.dist < 4
    )
    SELECT node, CAST(MIN(dist) AS INT) AS dist FROM bfs GROUP BY node
    """,
)
def q_shortest_path(spark, sf_dir):
    """Single-source BFS hop distances over the customer↔supplier
    bipartite graph (graph.py's edge list), bounded at 4 hops — the
    recursive-CTE query shape Spark has no native operator for,
    expressed the scale-correct way: each round is ONE equi-join of
    the current frontier against the edge list plus an anti-join
    that shrinks the frontier to first-time nodes (so work per round
    is proportional to the NEW frontier, not the visited set — the
    textbook distributed BFS). The DuckDB oracle is the identical
    computation as a recursive CTE with UNION (distinct) recursion;
    hop counts are integers, so the iterated state agrees bit-for-bit
    by construction. At 100 TB: the edge list is the only large
    shuffled artifact (shared across rounds via shared_pass), frontier
    frames are node-bounded, and round count is fixed/bounded by
    graph diameter — the same unrolling contract as q_pagerank."""
    from team_02_spark.operators.analytics import bfs_distances
    edges = _edges(spark, sf_dir).transform(shared_pass)
    return bfs_distances(edges, "c1", max_hops=4)


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
