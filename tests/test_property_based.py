"""Property-based invariants (hypothesis) over random small graphs —
the robustness layer on top of the golden fixtures. Example counts are kept
small: every example executes real Spark jobs.
"""

import pytest
import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from metagraph_spark.graph import build
from metagraph_spark.operators.components import connected_components
from metagraph_spark.operators.kernel import pagerank_kernel
from metagraph_spark.operators.pagerank import pagerank
from metagraph_spark.operators.triangles import triangle_count
from tests.conftest import df_from_edges

SETTINGS = dict(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

edge_lists = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 9)),
    min_size=1,
    max_size=20,
)


def union_find(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in edges:
        parent[find(s)] = find(d)
    groups = {}
    for n in nodes:
        groups.setdefault(find(n), set()).add(n)
    return frozenset(frozenset(g) for g in groups.values())


@given(edges=edge_lists)
@settings(**SETTINGS)
@pytest.mark.slow
def test_cc_matches_union_find(spark, edges):
    nodes = sorted({n for e in edges for n in e})
    g = build(df_from_edges(spark, edges, weighted=False), is_directed=False)
    got = {}
    for r in connected_components(g).collect():
        got.setdefault(r["label"], set()).add(r["id"])
    assert frozenset(frozenset(s) for s in got.values()) == union_find(edges, nodes)


@given(edges=edge_lists)
@settings(**SETTINGS)
@pytest.mark.slow
def test_triangles_match_bruteforce(spark, edges):
    adj = {}
    for s, d in edges:
        if s != d:
            adj.setdefault(s, set()).add(d)
            adj.setdefault(d, set()).add(s)
    nodes = sorted(adj)
    expected = 0
    for i, u in enumerate(nodes):
        for v in nodes[i + 1:]:
            if v not in adj[u]:
                continue
            for w in nodes:
                if w > v and w in adj[u] and w in adj[v]:
                    expected += 1
    g = build(df_from_edges(spark, edges, weighted=False), is_directed=False)
    assert triangle_count(g) == expected


@given(edges=edge_lists)
@settings(**SETTINGS)
@pytest.mark.slow
def test_pagerank_strategies_agree_and_sum_to_one(spark, edges):
    g = build(df_from_edges(spark, edges, weighted=False), is_directed=True)
    jb = {r["id"]: r["rank"] for r in
          pagerank(g, maxiter=200, tolerance=1e-9, strategy="join").collect()}
    kb = {r["id"]: r["rank"] for r in
          pagerank_kernel(g, maxiter=200, tolerance=1e-9).collect()}
    assert set(jb) == set(kb)
    for k in jb:
        assert math.isclose(jb[k], kb[k], rel_tol=1e-8, abs_tol=1e-12)
    assert math.isclose(sum(jb.values()), 1.0, rel_tol=1e-9)


@pytest.mark.slow
@given(edges=edge_lists, source=st.integers(0, 9))
@settings(**SETTINGS)
def test_dfs_preorder_invariants(spark, edges, source):
    """dfs_iter must equal a pure-python recursive DFS with ascending-id
    neighbor order (the documented tie-break), and dfs_tree's parents must
    be exactly the preorder discovery parents."""
    import sys

    from metagraph_spark.operators.traversal import dfs_iter, dfs_tree

    edges = [(s, d) for s, d in edges if s != d]
    nodes = {n for e in edges for n in e}
    if source not in nodes:
        return
    g = build(
        df_from_edges(spark, [(s, d, 1.0) for s, d in edges]), is_directed=True
    )
    adj = {}
    for s, d in set(edges):
        adj.setdefault(s, set()).add(d)
    order, parents = [], {source: source}
    sys.setrecursionlimit(10000)

    def rec(u):
        order.append(u)
        for v in sorted(adj.get(u, ())):
            if v not in parents:
                parents[v] = u
                rec(v)

    rec(source)
    got_order = [r["id"] for r in dfs_iter(g, source).orderBy("pos").collect()]
    assert got_order == order
    got_parents = {r["id"]: r["parent"] for r in dfs_tree(g, source).collect()}
    assert got_parents == parents


@pytest.mark.slow
@given(
    t_edges=st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 7)), min_size=3, max_size=18
    ),
    p_edges=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 3)), min_size=1, max_size=6
    ),
)
@settings(**SETTINGS)
def test_subisomorphic_matches_bruteforce(spark, t_edges, p_edges):
    """subisomorphic == exhaustive injective-mapping search under induced
    semantics, over random directed target/pattern pairs."""
    import itertools

    from metagraph_spark.operators.subgraph import subisomorphic

    t_edges = sorted({(s, d) for s, d in t_edges})
    p_edges = sorted({(s, d) for s, d in p_edges})
    t_nodes = sorted({n for e in t_edges for n in e})
    p_nodes = sorted({n for e in p_edges for n in e})
    if not t_nodes or not p_nodes:
        return
    tset, pset = set(t_edges), set(p_edges)
    expected = False
    if len(p_nodes) <= len(t_nodes):
        for perm in itertools.permutations(t_nodes, len(p_nodes)):
            m = dict(zip(p_nodes, perm))
            if all(
                ((u, v) in pset) == ((m[u], m[v]) in tset)
                for u in p_nodes
                for v in p_nodes
            ):
                expected = True
                break
    g_t = build(df_from_edges(spark, [(s, d, 1.0) for s, d in t_edges]),
                is_directed=True)
    g_p = build(df_from_edges(spark, [(s, d, 1.0) for s, d in p_edges]),
                is_directed=True)
    assert subisomorphic(g_t, g_p) is expected


@pytest.mark.slow
@given(edges=edge_lists)
@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_astar_zero_heuristic_is_shortest_path(spark, edges):
    """With h == 0, A* is Dijkstra: the returned path's cost must equal the
    true single-source shortest distance (python Dijkstra oracle), and
    every hop must be a real edge."""
    import heapq

    from metagraph_spark.operators.traversal import astar_search

    edges = sorted({(s, d) for s, d in edges if s != d})
    if not edges:
        return
    # deterministic positive weights
    w_edges = [(s, d, 1.0 + ((s * 7 + d * 13) % 5)) for s, d in edges]
    nodes = sorted({n for e in edges for n in e})
    src = nodes[0]
    # python dijkstra oracle
    adj = {}
    for s, d, w in w_edges:
        adj.setdefault(s, []).append((d, w))
    dist = {src: 0.0}
    pq = [(0.0, src)]
    while pq:
        du, u = heapq.heappop(pq)
        if du > dist.get(u, float("inf")):
            continue
        for v, w in adj.get(u, ()):
            nd = du + w
            if nd < dist.get(v, float("inf")):
                dist[v] = nd
                heapq.heappush(pq, (nd, v))
    reachable = [n for n in nodes if n in dist and n != src]
    if not reachable:
        return
    tgt = reachable[-1]
    g = build(df_from_edges(spark, w_edges), is_directed=True)
    path = [r["id"] for r in
            astar_search(g, src, tgt, lambda _: 0.0).orderBy("pos").collect()]
    assert path[0] == src and path[-1] == tgt
    wmap = {(s, d): w for s, d, w in w_edges}
    cost = 0.0
    for a, b in zip(path, path[1:]):
        assert (a, b) in wmap, (a, b)
        cost += wmap[(a, b)]
    assert math.isclose(cost, dist[tgt]), (cost, dist[tgt])
