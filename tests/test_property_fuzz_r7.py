"""Hypothesis property fuzzing for the round-7 analytic operators on
GENERATED inputs (adversarial shapes the fixture can't produce:
nested/duplicate intervals, disconnected graphs, self-loop-free
multigraphs) — each checked against an exact brute-force python fold.
The fixture lanes pin the same code against DuckDB oracles; this file
pins the algorithms themselves."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from team_02_spark.operators.analytics import bfs_distances, interval_union

_SETTINGS = settings(
    max_examples=8, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# duplicate-heavy intervals over a tiny coordinate range force nested,
# touching, and identical spans across few keys
INTERVALS = st.lists(
    st.tuples(
        st.sampled_from(["a", "b"]),
        st.integers(min_value=0, max_value=30),
        st.integers(min_value=0, max_value=25),
    ),
    min_size=1,
    max_size=40,
)

# small dense digraphs: few nodes, many edges -> cycles, multi-paths
EDGES = st.lists(
    st.tuples(
        st.sampled_from([f"n{i}" for i in range(8)]),
        st.sampled_from([f"n{i}" for i in range(8)]),
    ),
    min_size=1,
    max_size=30,
)


def _brute_union(intervals):
    """Exact per-key union: island count + summed covered length."""
    out = {}
    by_key = {}
    for k, s, e in intervals:
        by_key.setdefault(k, []).append((s, e))
    for k, iv in by_key.items():
        iv.sort()
        islands = []
        for s, e in iv:
            if islands and s <= islands[-1][1]:
                islands[-1][1] = max(islands[-1][1], e)
            else:
                islands.append([s, e])
        out[k] = (len(islands), sum(e - s for s, e in islands))
    return out


@_SETTINGS
@given(raw=INTERVALS)
def test_interval_union_matches_brute_force(spark, raw):
    """For ANY interval multiset (nested, duplicate, touching): the
    sweep-line island count and covered length equal the exact fold."""
    intervals = [(k, s, s + w) for k, s, w in raw]
    df = spark.createDataFrame(intervals, "k string, s long, e long")
    got = {
        r["k"]: (r["n_islands"], r["covered"])
        for r in interval_union(df, "k", "s", "e").collect()
    }
    assert got == _brute_union(intervals)


def _brute_bfs(edges, source, max_hops):
    adj = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
    dist = {source: 0}
    frontier = [source]
    for r in range(1, max_hops + 1):
        nxt = []
        for n in frontier:
            for m in adj.get(n, ()):
                if m not in dist:
                    dist[m] = r
                    nxt.append(m)
        frontier = nxt
    return dist


@_SETTINGS
@given(edges=EDGES, hops=st.sampled_from([1, 3, 4]))
def test_bfs_matches_brute_force(spark, edges, hops):
    """For ANY digraph (cycles, unreachable nodes, parallel edges):
    bounded-hop BFS distances equal the exact python BFS, including
    the always-present source row at distance 0."""
    df = spark.createDataFrame(edges, "src string, dst string").distinct()
    got = {
        r["node"]: r["dist"]
        for r in bfs_distances(df, "n0", max_hops=hops).collect()
    }
    assert got == _brute_bfs(set(edges), "n0", hops)


@_SETTINGS
@given(raw=INTERVALS, width=st.sampled_from([1, 4, 7, 100]))
def test_interval_union_salted_matches_unsalted(spark, raw, width):
    """The hot-key salted re-shard (clip at bucket boundaries ->
    per-(key,bucket) sweep -> merge pass over islands) is EXACTLY the
    unsalted operator for any interval multiset and any bucket width
    — including width 1 (every piece its own bucket), widths that cut
    intervals mid-span, and widths larger than the whole axis (the
    degenerate single-bucket case)."""
    from team_02_spark.operators.analytics import interval_union_salted

    intervals = [(k, s, s + w) for k, s, w in raw]
    df = spark.createDataFrame(intervals, "k string, s long, e long")
    base = {
        r["k"]: (r["n_islands"], r["covered"])
        for r in interval_union(df, "k", "s", "e").collect()
    }
    salted = {
        r["k"]: (r["n_islands"], r["covered"])
        for r in interval_union_salted(
            df, "k", "s", "e", bucket_width=width
        ).collect()
    }
    assert salted == base == _brute_union(intervals)


def test_interval_union_salted_negative_axis_and_validation(spark):
    """Exact bucket ids on a negative axis (pmod floor-division, no
    float drift) and the positive-width contract."""
    import pytest

    from team_02_spark.operators.analytics import interval_union_salted

    rows = [("k", -13, -2), ("k", -2, 5), ("k", 9, 11)]
    df = spark.createDataFrame(rows, "k string, s long, e long")
    got = interval_union_salted(df, "k", "s", "e", bucket_width=4).collect()
    assert [(r["n_islands"], r["covered"]) for r in got] == [(2, 20)]
    with pytest.raises(ValueError, match="positive"):
        interval_union_salted(df, "k", "s", "e", bucket_width=0)


# ---------------------------------------------------- round-8 fuzz nets

OPS = st.lists(
    st.tuples(
        st.sampled_from([1, 2, 3, 4, 5]),           # key
        st.sampled_from(["I", "U", "D"]),           # op
        st.integers(min_value=0, max_value=99),      # payload val
    ),
    min_size=1,
    max_size=24,
)


def _brute_cdc(base, ops):
    """Python fold of the CDC contract: replacement payloads, last op
    wins per sequence order, D removes, I/U replace-or-insert."""
    state = dict(base)
    for k, op, v in ops:
        if op == "D":
            state.pop(k, None)
        else:
            state[k] = v
    return state


@_SETTINGS
@given(ops=OPS, cut=st.integers(min_value=0, max_value=24),
       replay=st.booleans())
def test_cdc_apply_matches_brute_fold_any_batching(spark, tmp_path_factory,
                                                   ops, cut, replay):
    """apply_cdc_batch over ANY op sequence split at ANY point into
    two micro-batches equals the sequential python fold — the
    batching boundary can never change the final snapshot (the
    property that makes micro-batch sizing a pure throughput knob).
    ``replay`` re-applies the last batch under its same batch_id, the
    foreachBatch at-least-once retry, which must change nothing."""
    from team_02_spark.streaming.cdc import (
        apply_cdc_batch,
        latest_state,
        seed_state,
    )

    base = {1: 100, 2: 200}
    seq_ops = [(i + 1, k, op, v) for i, (k, op, v) in enumerate(ops)]
    state_dir = str(tmp_path_factory.mktemp("cdc_fuzz"))
    seed_state(
        spark.createDataFrame(
            [(k, v) for k, v in base.items()], "k int, val int"
        ),
        state_dir,
    )
    cut = min(cut, len(seq_ops))
    schema = "seq long, k int, val int, op string"
    applied = []
    for bid, chunk in enumerate([seq_ops[:cut], seq_ops[cut:]]):
        if not chunk:
            continue
        batch = spark.createDataFrame(
            [(s, k, v, op) for (s, k, op, v) in chunk], schema
        )
        apply_cdc_batch(batch, bid, state_dir=state_dir, key="k",
                        seq_col="seq")
        applied.append((batch, bid))
    if replay:
        batch, bid = applied[-1]
        apply_cdc_batch(batch, bid, state_dir=state_dir, key="k",
                        seq_col="seq")
    got = {r["k"]: r["val"] for r in latest_state(spark, state_dir).collect()}
    assert got == _brute_cdc(base, ops)


def _brute_triangles(edges):
    adj = {}
    nodes = set()
    es = set()
    for u, v in edges:
        if u == v:
            continue
        a, b = min(u, v), max(u, v)
        es.add((a, b))
        nodes.update((a, b))
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tris = sum(
        1
        for (a, b) in es
        for c in adj[a] & adj[b]
        if c > b
    )
    return tris, len(es), len(nodes)


@_SETTINGS
@given(
    orders=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=6),     # order id
            st.integers(min_value=1, max_value=9),     # supplier id
        ),
        min_size=2,
        max_size=30,
    )
)
def test_triangle_census_matches_brute_force(spark, tmp_path_factory, orders):
    """q_triangles' degree-ordered orientation on ANY random co-supply
    multigraph (hubs, ties, parallel listings) equals the brute-force
    wedge-intersection count — each triangle counted exactly once."""
    from team_02_spark.queries import QUERIES

    path = tmp_path_factory.mktemp("tri_fuzz")
    li = spark.createDataFrame(orders, "l_orderkey long, l_suppkey long")
    li.coalesce(1).write.parquet(str(path / "lineitem.parquet"))
    got = QUERIES["q_triangles"].fn(spark, str(path)).collect()[0]
    # brute: co-supply edges = supplier pairs sharing an order
    by_order = {}
    for o, s in orders:
        by_order.setdefault(o, set()).add(s)
    edges = {
        (a, b)
        for ss in by_order.values()
        for a in ss
        for b in ss
        if a < b
    }
    tris, n_e, n_n = _brute_triangles(edges)
    assert (got["n_triangles"], got["n_edges"], got["n_nodes"]) == (
        tris, n_e, n_n)
