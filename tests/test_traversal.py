"""Traversal parity tests — golden fixtures from
/root/reference/metagraph/tests/algorithms/test_traversal.py.
"""

import math

import pytest

from metagraph_spark.exceptions import ConvergenceError, GraphPropertyError
from metagraph_spark.graph import build
from metagraph_spark.operators.traversal import (
    bellman_ford,
    bfs_iter,
    bfs_tree,
    dijkstra,
    minimum_spanning_tree,
)
from tests.conftest import df_from_edges

# bfs fixture (test_traversal.py:45-92)
BFS_EDGES = [
    (0, 3, 1), (1, 0, 2), (1, 4, 3), (2, 4, 4), (2, 5, 5),
    (2, 7, 6), (3, 4, 8), (4, 5, 9), (5, 6, 10), (6, 2, 11),
]
# bellman-ford / dijkstra fixture (test_traversal.py:277-345)
SSSP_EDGES = [
    (0, 3, 1), (1, 0, 2), (1, 4, 3), (2, 4, 4), (2, 5, 5), (2, 7, 6),
    (3, 1, 7), (3, 4, 8), (4, 5, 9), (5, 6, 10), (6, 2, 11),
]


def test_bfs_iter_golden(spark):
    g = build(df_from_edges(spark, BFS_EDGES), is_directed=True)
    order = [r["id"] for r in bfs_iter(g, 0).orderBy("pos").collect()]
    assert order == [0, 3, 4, 5, 6, 2, 7]
    # depth limit: first 4 must match
    limited = [r["id"] for r in bfs_iter(g, 0, depth_limit=4).orderBy("pos").collect()]
    assert limited[:4] == [0, 3, 4, 5]


def test_bfs_tree_golden(spark):
    # bfs_tree fixture (test_traversal.py:94-186)
    edges = [
        (0, 3, 1), (0, 1, 2), (1, 3, 12), (1, 4, 3), (2, 4, 4), (2, 5, 5),
        (2, 7, 6), (3, 4, 8), (4, 5, 9), (5, 6, 10), (6, 2, 11),
    ]
    g = build(df_from_edges(spark, edges), is_directed=True)
    depths, parents = bfs_tree(g, 0)
    got_depth = {r["id"]: r["depth"] for r in depths.collect()}
    assert got_depth == {0: 0, 1: 1, 3: 1, 4: 2, 5: 3, 6: 4, 2: 5, 7: 6}
    got_parent = {r["id"]: r["parent"] for r in parents.collect()}
    assert got_parent[0] == 0
    assert got_parent[1] == 0 and got_parent[3] == 0
    # node 4 reachable from 1 and 3 at depth 2 -> min parent 1
    assert got_parent[4] == 1
    assert got_parent[5] == 4 and got_parent[6] == 5
    assert got_parent[2] == 6 and got_parent[7] == 2


def test_bellman_ford_golden(spark):
    g = build(df_from_edges(spark, SSSP_EDGES), is_directed=True)
    parents, dists = bellman_ford(g, 0)
    assert {r["id"]: r["parent"] for r in parents.collect()} == {
        0: 0, 3: 0, 1: 3, 4: 3, 5: 4, 6: 5, 2: 6, 7: 2
    }
    assert {r["id"]: r["dist"] for r in dists.collect()} == {
        0: 0, 3: 1, 1: 8, 4: 9, 5: 18, 6: 28, 2: 39, 7: 45
    }


def test_dijkstra_golden_and_negative_check(spark):
    g = build(df_from_edges(spark, SSSP_EDGES), is_directed=True)
    parents, dists = dijkstra(g, 0)
    assert {r["id"]: r["dist"] for r in dists.collect()} == {
        0: 0, 3: 1, 1: 8, 4: 9, 5: 18, 6: 28, 2: 39, 7: 45
    }
    neg = build(df_from_edges(spark, [(0, 1, -2.0)]), is_directed=True)
    with pytest.raises(GraphPropertyError):
        dijkstra(neg, 0)


def test_bellman_ford_negative_cycle(spark):
    g = build(
        df_from_edges(spark, [(0, 1, 1.0), (1, 2, -5.0), (2, 0, 1.0)]),
        is_directed=True,
    )
    with pytest.raises(ConvergenceError):
        bellman_ford(g, 0)


def canon(rows):
    return sorted((min(r["src"], r["dst"]), max(r["src"], r["dst"]), r["weight"])
                  for r in rows)


def test_mst_golden(spark):
    # test_traversal.py:347-390
    g = build(df_from_edges(spark, SSSP_EDGES), is_directed=False)
    mst = minimum_spanning_tree(g)
    expected = [
        (0, 3, 1), (0, 1, 2), (1, 4, 3), (4, 2, 4), (2, 5, 5), (2, 7, 6), (5, 6, 10),
    ]
    assert canon(mst.edges.collect()) == canon(
        [{"src": s, "dst": d, "weight": float(w)} for s, d, w in expected]
    )


def test_mst_disconnected_golden(spark):
    # test_traversal.py:392-432
    edges = [
        (0, 3, 1), (1, 0, 2), (1, 4, 3), (2, 5, 5), (2, 7, 6),
        (3, 1, 7), (3, 4, 8), (5, 6, 10), (6, 2, 11),
    ]
    g = build(df_from_edges(spark, edges), is_directed=False)
    mst = minimum_spanning_tree(g)
    expected = [
        (0, 3, 1), (0, 1, 2), (1, 4, 3), (2, 5, 5), (2, 7, 6), (5, 6, 10),
    ]
    assert canon(mst.edges.collect()) == canon(
        [{"src": s, "dst": d, "weight": float(w)} for s, d, w in expected]
    )


def test_bfs_tree_depth_limited_golden(spark):
    """Reference depth-limit variant (test_traversal.py:158-186): limit 3
    keeps exactly the nodes within 3 hops, same parents."""
    edges = [
        (0, 3, 1), (0, 1, 2), (1, 3, 12), (1, 4, 3), (2, 4, 4), (2, 5, 5),
        (2, 7, 6), (3, 4, 8), (4, 5, 9), (5, 6, 10), (6, 2, 11),
    ]
    g = build(df_from_edges(spark, edges), is_directed=True)
    depths, parents = bfs_tree(g, 0, depth_limit=3)
    got_depth = {r["id"]: r["depth"] for r in depths.collect()}
    assert got_depth == {0: 0, 1: 1, 3: 1, 4: 2, 5: 3}
    got_parent = {r["id"]: r["parent"] for r in parents.collect()}
    assert got_parent == {0: 0, 1: 0, 3: 0, 4: 1, 5: 4}


def test_bfs_disconnected_source_component(spark):
    """BFS from a node in a small component must not leak into the rest of
    the graph; an isolated source yields just itself at depth 0."""
    edges = [(0, 1, 1.0), (1, 2, 1.0), (5, 6, 1.0)]
    g = build(df_from_edges(spark, edges), is_directed=True)
    depths, parents = bfs_tree(g, 5)
    assert {r["id"]: r["depth"] for r in depths.collect()} == {5: 0, 6: 1}
    order = [r["id"] for r in bfs_iter(g, 6).orderBy("pos").collect()]
    assert order == [6]


# dfs fixture (reference test_traversal.py:188-275)
DFS_EDGES = [
    (0, 3, 1), (0, 1, 2), (1, 4, 3), (2, 4, 4), (2, 5, 5),
    (2, 7, 6), (3, 4, 8), (4, 5, 9), (5, 6, 10), (6, 2, 11),
]


def test_dfs_iter_golden(spark):
    from metagraph_spark.operators.traversal import dfs_iter

    g = build(df_from_edges(spark, DFS_EDGES), is_directed=True)
    order = [r["id"] for r in dfs_iter(g, 0).orderBy("pos").collect()]
    # reference cmp_func: tests/algorithms/test_traversal.py:216-226
    assert order[0] == 0
    assert order[2:7] == [4, 5, 6, 2, 7]
    assert abs(order.index(1) - order.index(3)) == 6


def test_dfs_tree_golden(spark):
    from metagraph_spark.operators.traversal import dfs_tree

    g = build(df_from_edges(spark, DFS_EDGES), is_directed=True)
    got = {r["id"]: r["parent"] for r in dfs_tree(g, 0).collect()}
    # reference cmp_func: tests/algorithms/test_traversal.py:259-272
    assert len(got) == 8
    for node, parent in {0: 0, 5: 4, 6: 5, 2: 6, 7: 2}.items():
        assert got[node] == parent
    assert got[1] in (0, 7) and got[3] in (0, 7) and got[4] in (1, 3)


def test_dfs_guard_and_missing_source(spark, monkeypatch):
    from metagraph_spark.operators import routing
    from metagraph_spark.operators.traversal import dfs_iter

    g = build(df_from_edges(spark, DFS_EDGES), is_directed=True)
    with monkeypatch.context() as mp:
        mp.setattr(routing, "SEQUENTIAL_MAX_EDGES", 2)
        with pytest.raises(GraphPropertyError, match="driver kernel"):
            dfs_iter(g, 0)
    with pytest.raises(ValueError, match="not in graph"):
        dfs_iter(g, 99)


def test_astar_grid_golden(spark):
    """Reference grid golden (tests/algorithms/test_traversal.py:434-493):
    10x10 8-connected grid with row-4 cells (4,1)..(4,8) removed, unit
    weights, squared-euclidean heuristic to (9,9)."""
    from metagraph_spark.operators.traversal import astar_search

    excluded = {(4, y) for y in range(1, 9)}
    nodes = {(x, y) for x in range(10) for y in range(10)} - excluded
    edges = []
    for (x, y) in nodes:
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                nb = (x + dx, y + dy)
                if nb != (x, y) and nb in nodes:
                    edges.append((x * 10 + y, nb[0] * 10 + nb[1], 1.0))
    g = build(df_from_edges(spark, edges), is_directed=True)

    def heuristic(nid):
        x, y = divmod(nid, 10)
        return (9 - x) ** 2 + (9 - y) ** 2

    path = [r["id"] for r in astar_search(g, 0, 99, heuristic).orderBy("pos").collect()]
    assert path == [0, 11, 22, 33, 34, 35, 36, 37, 38, 49, 59, 69, 79, 89, 99]


def test_astar_no_path(spark):
    from metagraph_spark.operators.traversal import astar_search

    g = build(df_from_edges(spark, [(0, 1, 1.0), (2, 3, 1.0)]), is_directed=True)
    with pytest.raises(ValueError, match="no path"):
        astar_search(g, 0, 3, lambda _: 0.0)


def test_astar_inconsistent_admissible_heuristic_reexpands(spark):
    """Admissible-but-INCONSISTENT heuristic (a legal input per the
    reference contract): node 2 ("x") is first popped via the direct
     10-weight edge, then a cheaper path through node 1 appears. A
    done-flag A* would never re-relax x's successors and return the
    cost-20 path; mirroring nx's lazy-deletion re-expansion must return
    the optimal 0→1→2→3 path (cost 12), as nx.astar_path does."""
    from metagraph_spark.operators.traversal import astar_search

    edges = [(0, 2, 10.0), (0, 1, 1.0), (1, 2, 1.0), (2, 3, 10.0)]
    g = build(df_from_edges(spark, edges), is_directed=True)
    # h(1)=11 (== true remaining distance, admissible) but
    # h(1) > w(1,2) + h(2) = 1 — inconsistent
    h = {0: 0.0, 1: 11.0, 2: 0.0, 3: 0.0}
    path = [
        r["id"]
        for r in astar_search(g, 0, 3, lambda nid: h[nid])
        .orderBy("pos")
        .collect()
    ]
    assert path == [0, 1, 2, 3]
    nx = pytest.importorskip("networkx")
    G = nx.DiGraph()
    for a, b, w in edges:
        G.add_edge(a, b, weight=w)
    assert path == nx.astar_path(
        G, 0, 3, heuristic=lambda u, v: h[u], weight="weight"
    )
