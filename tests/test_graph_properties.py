"""Property-based checks of the graph family: the Spark iterative
operators (scaled-integer PageRank, relaxation-round BFS/SSSP,
degree-ordered triangle census, peel-sweep coreness, Adamic-Adar
wedge scoring) vs brute-force pure-Python implementations on arbitrary
small random graphs — round 10's third sweep batch.

PageRank/BFS/SSSP surfaces are EXACT integers by design, so the twins
assert equality, not tolerance; only Adamic-Adar (1/ln sums) and the
clustering coefficient are float-compared.
"""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

SET = settings(
    max_examples=8, deadline=None, suppress_health_check=list(HealthCheck)
)

_edges_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=7),
        st.integers(min_value=0, max_value=7),
    ),
    min_size=1,
    max_size=20,
)


@pytest.fixture(params=["one_pass", "broadcast", "keyed"])
def relax_regime(request, monkeypatch):
    """Every regime of the BFS/SSSP relaxation: ``broadcast`` and ``keyed``
    force the join rounds by dropping the one-pass bound (and for ``keyed``
    the small-graph bound) to 0; only an empty edge set stays under them."""
    from feature_store_fraud_detection_spark.operators import graph

    if request.param != "one_pass":
        monkeypatch.setattr(graph, "ONE_PASS_EDGE_LIMIT", 0)
    if request.param == "keyed":
        monkeypatch.setattr(graph, "SMALL_GRAPH_NODE_LIMIT", 0)
    return request.param


def _canon_undirected(edges):
    """The kcore/coreness/adamic contract: each pair once, u < v."""
    return sorted({(min(u, v), max(u, v)) for u, v in edges if u != v})


@SET
@given(_edges_strategy)
def test_pagerank_matches_integer_bruteforce(spark, edges):
    from feature_store_fraud_detection_spark.operators.graph import (
        PAGERANK_SCALE,
        pagerank,
    )

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r.node: r.rank_scaled
        for r in pagerank(df, "src", "dst", iterations=4).collect()
    }
    e = sorted(set(edges))
    nodes = sorted({u for u, _ in e} | {v for _, v in e})
    n = len(nodes)
    base = (15 * PAGERANK_SCALE) // (100 * n)
    outdeg: dict[int, int] = {}
    for u, _ in e:
        outdeg[u] = outdeg.get(u, 0) + 1
    rank = {x: PAGERANK_SCALE // n for x in nodes}
    for _ in range(4):
        agg: dict[int, int] = {}
        for u, v in e:
            agg[v] = agg.get(v, 0) + rank[u] // outdeg[u]
        rank = {x: base + (85 * agg.get(x, 0)) // 100 for x in nodes}
    assert got == rank  # exact integers


@SET
@given(_edges_strategy, st.integers(min_value=0, max_value=7))
def test_bfs_levels_matches_bruteforce(spark, relax_regime, edges, seed):
    from feature_store_fraud_detection_spark.operators.graph import (
        bfs_levels,
    )

    df = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(seed,)], "node long")
    got = {
        r.node: r.level
        for r in bfs_levels(df, seeds, max_hops=6).collect()
    }
    level = {seed: 0}
    frontier = [seed]
    for depth in range(1, 7):
        nxt = []
        for u, v in edges:
            if u in level and level[u] == depth - 1 and v not in level:
                level[v] = depth
                nxt.append(v)
        frontier = nxt
    assert got == level


@SET
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=7),
            st.integers(min_value=0, max_value=7),
            st.integers(min_value=1, max_value=5),
        ),
        min_size=1,
        max_size=20,
    ),
    st.integers(min_value=0, max_value=7),
)
def test_sssp_matches_bellman_ford(spark, relax_regime, edges, seed):
    from feature_store_fraud_detection_spark.operators.graph import sssp

    df = spark.createDataFrame(edges, "src long, dst long, w long")
    seeds = spark.createDataFrame([(seed,)], "node long")
    got = {
        r.node: r.dist for r in sssp(df, seeds, max_rounds=6).collect()
    }
    INF = float("inf")
    dist = {seed: 0}
    for _ in range(6):
        new = dict(dist)
        for u, v, w in edges:
            if u in dist and dist[u] + w < new.get(v, INF):
                new[v] = dist[u] + w
        dist = new
    assert got == dist


@SET
@given(_edges_strategy)
def test_triangle_stats_matches_bruteforce(spark, edges):
    from feature_store_fraud_detection_spark.operators.graph import (
        triangle_stats,
    )

    und = _canon_undirected(edges)
    if not und:
        return  # empty undirected graph: nothing to census
    df = spark.createDataFrame(edges, "src long, dst long")
    r = triangle_stats(df, "src", "dst").collect()[0]
    adj: dict[int, set[int]] = {}
    for u, v in und:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    nodes = sorted(adj)
    tris = sum(
        1
        for i, a in enumerate(nodes)
        for b in nodes[i + 1 :]
        if b in adj[a]
        for c in nodes
        if c > b and c in adj[a] and c in adj[b]
    )
    wedges = sum(len(s) * (len(s) - 1) // 2 for s in adj.values())
    assert r.n_triangles == tris
    assert r.n_wedges == wedges
    if wedges > 0:
        assert abs(r.clustering - 3.0 * tris / wedges) < 1e-3
    else:
        assert r.clustering is None


def _py_kcore(und, k):
    """Peel to the k-core -> {node: degree inside the core}."""
    edges = set(und)
    while True:
        deg: dict[int, int] = {}
        for u, v in edges:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        drop = {n for n, d in deg.items() if d < k}
        if not drop:
            return deg
        edges = {(u, v) for u, v in edges if u not in drop and v not in drop}
        if not edges:
            return {}


@SET
@given(_edges_strategy)
def test_kcore_and_coreness_match_bruteforce(spark, edges):
    from feature_store_fraud_detection_spark.operators.graph import (
        coreness,
        kcore,
    )

    und = _canon_undirected(edges)
    if not und:
        return
    df = spark.createDataFrame(und, "src long, dst long")

    got_core = {
        r.node: r.degree for r in kcore(df, "src", "dst", k=2).collect()
    }
    assert got_core == _py_kcore(und, 2)

    got_cn = {r.node: r.coreness for r in coreness(df, "src", "dst").collect()}
    expect = {}
    k = 1
    alive = _py_kcore(und, 1)
    while alive:
        for n_ in alive:
            expect[n_] = k
        k += 1
        alive = _py_kcore(und, k)
    assert got_cn == expect


@SET
@given(_edges_strategy)
def test_adamic_adar_matches_bruteforce(spark, edges):
    from feature_store_fraud_detection_spark.operators.graph import (
        adamic_adar,
    )

    und = _canon_undirected(edges)
    if not und:
        return
    df = spark.createDataFrame(und, "src long, dst long")
    got = {
        (r.node_a, r.node_b): (r.n_common, r.score)
        for r in adamic_adar(df, "src", "dst", top_n=1000).collect()
    }
    adj: dict[int, set[int]] = {}
    for u, v in und:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    linked = set(und)
    expect = {}
    nodes = sorted(adj)
    for i, a in enumerate(nodes):
        for b in nodes[i + 1 :]:
            if (a, b) in linked:
                continue
            common = adj[a] & adj[b]
            if not common:
                continue
            ws = sorted(1.0 / math.log(len(adj[c])) for c in common)
            expect[(a, b)] = (len(common), sum(ws))
    assert set(got) == set(expect)
    for pair, (n_c, score) in expect.items():
        assert got[pair][0] == n_c
        assert abs(got[pair][1] - score) < 1e-3
