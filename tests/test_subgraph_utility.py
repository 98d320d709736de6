"""Subgraph + utility operator tests; fixtures/semantics from
/root/reference/metagraph/tests/algorithms/test_subgraph.py and the
abstract defs in plugins/core/algorithms/utility.py. networkx is the oracle
(the reference's own backend).
"""

import math

import networkx as nx
import pytest

from metagraph_spark.graph import build
from metagraph_spark.operators.subgraph import (
    edge_sampling,
    extract_subgraph,
    k_core,
    k_truss,
    maximal_independent_set,
    node_sampling,
    totally_induced_edge_sampling,
)
from metagraph_spark.operators.utility import (
    aggregate_edges,
    assign_uniform_weight,
    collapse_by_label,
    degree,
    filter_edges,
    nodemap_apply,
    nodemap_filter,
    nodemap_reduce,
    nodemap_select,
    nodemap_sort,
    nodeset_choose_random,
)
from tests.conftest import df_from_edges

STD_EDGES = [
    (0, 3, 1), (1, 0, 2), (1, 4, 3), (2, 4, 4), (2, 5, 5), (2, 7, 6),
    (3, 1, 7), (3, 4, 8), (4, 5, 9), (5, 6, 10), (6, 2, 11),
]


def edge_set(g):
    return {(r["src"], r["dst"]) for r in g.edges.collect()}


def test_extract_subgraph(spark):
    # reference test_subgraph.py:7-29: nodes {0,2,3} on a directed graph
    g = build(df_from_edges(spark, STD_EDGES), is_directed=True)
    nodes = spark.createDataFrame([(0,), (2,), (3,)], "id long")
    sub = extract_subgraph(g, nodes)
    assert edge_set(sub) == {(0, 3)}
    assert {r["id"] for r in sub.nodes.collect()} == {0, 2, 3}


def test_k_core_matches_nx(spark):
    edges = [(0, 1, 1), (0, 2, 1), (1, 2, 1), (1, 3, 1), (2, 3, 1), (3, 4, 1),
             (4, 5, 1), (0, 3, 1)]
    g = build(df_from_edges(spark, edges), is_directed=False)
    got = k_core(g, 2)
    nxg = nx.Graph()
    nxg.add_edges_from([(s, d) for s, d, _ in edges])
    expected = nx.k_core(nxg, 2)
    assert {tuple(sorted(e)) for e in edge_set(got)} == {
        tuple(sorted(e)) for e in expected.edges
    }


def test_k_truss_matches_nx(spark):
    edges = [
        (0, 1, 1), (0, 2, 1), (1, 2, 1), (1, 3, 1), (2, 3, 1), (0, 3, 1),
        (3, 4, 1), (4, 5, 1), (2, 4, 1),
    ]
    g = build(df_from_edges(spark, edges), is_directed=False)
    nxg = nx.Graph()
    nxg.add_edges_from([(s, d) for s, d, _ in edges])
    for k in (3, 4):
        got = k_truss(g, k)
        expected = nx.k_truss(nxg, k)
        assert {tuple(sorted(e)) for e in edge_set(got)} == {
            tuple(sorted(e)) for e in expected.edges
        }, k


def test_maximal_independent_set(spark):
    # reference test checks independence + maximality only (test_subgraph.py:87-111)
    g = build(df_from_edges(spark, STD_EDGES), is_directed=False)
    mis = {r["id"] for r in maximal_independent_set(g).collect()}
    sym = {(s, d) for s, d, _ in STD_EDGES} | {(d, s) for s, d, _ in STD_EDGES}
    # independent
    for u in mis:
        for v in mis:
            assert (u, v) not in sym
    # maximal: every non-member has a neighbor in the set
    nodes = {n for e in STD_EDGES for n in e[:2]}
    for u in nodes - mis:
        assert any((u, v) in sym for v in mis), u


def test_sampling_variants(spark):
    g = build(df_from_edges(spark, STD_EDGES), is_directed=True)
    ns = node_sampling(g, 0.5, seed=1)
    kept = {r["id"] for r in ns.nodes.collect()}
    assert edge_set(ns) == {
        (s, d) for s, d, _ in STD_EDGES if s in kept and d in kept
    }
    es = edge_sampling(g, 0.5, seed=1)
    sampled = edge_set(es)
    assert sampled <= {(s, d) for s, d, _ in STD_EDGES}
    assert {r["id"] for r in es.nodes.collect()} == {
        n for e in sampled for n in e
    }
    ties = totally_induced_edge_sampling(g, 0.5, seed=1)
    tie_nodes = {r["id"] for r in ties.nodes.collect()}
    assert edge_set(ties) == {
        (s, d) for s, d, _ in STD_EDGES if s in tie_nodes and d in tie_nodes
    }
    # determinism
    assert edge_set(node_sampling(g, 0.5, seed=1)) == edge_set(ns)
    with pytest.raises(ValueError):
        node_sampling(g, 1.5)


def test_degree_and_aggregate_edges(spark):
    g = build(df_from_edges(spark, STD_EDGES), is_directed=True)
    deg_out = {r["id"]: r["degree"] for r in degree(g).collect()}
    assert deg_out == {0: 1, 1: 2, 2: 3, 3: 2, 4: 1, 5: 1, 6: 1, 7: 0}
    # aggregate_edges out-sum with initial value (utility.py:66-79 semantics)
    vals = {r["id"]: r["value"] for r in
            aggregate_edges(g, "sum", initial_value=10.0).collect()}
    nxg = nx.DiGraph()
    nxg.add_weighted_edges_from(STD_EDGES)
    for n in nxg.nodes:
        expected = 10.0 + sum(d["weight"] for _, _, d in nxg.out_edges(n, data=True))
        if nxg.out_degree(n) == 0:
            expected = 10.0
        assert math.isclose(vals[n], expected), n
    # undirected counts each edge once even with both flags
    gu = build(df_from_edges(spark, [(0, 1, 2.0), (1, 2, 3.0)]), is_directed=False)
    vu = {r["id"]: r["value"] for r in
          aggregate_edges(gu, "sum", 0.0, in_edges=True, out_edges=True).collect()}
    assert vu == {0: 2.0, 1: 5.0, 2: 3.0}


def test_filter_edges_keeps_nodes(spark):
    g = build(df_from_edges(spark, STD_EDGES), is_directed=True)
    filt = filter_edges(g, "weight > 8")
    assert edge_set(filt) == {(4, 5), (5, 6), (6, 2)}
    # all nodes retained (isolates allowed) — reference utility.py:82-90
    assert filt.node_ids().count() == 8


def test_assign_uniform_weight(spark):
    g = build(df_from_edges(spark, [(0, 1), (1, 2)], weighted=False))
    gw = assign_uniform_weight(g, 3.5)
    assert all(r["weight"] == 3.5 for r in gw.edges.collect())


def test_collapse_by_label_quotient(spark):
    g = build(df_from_edges(spark, STD_EDGES), is_directed=False)
    labels = spark.createDataFrame(
        [(0, 100), (1, 100), (3, 100), (4, 100), (2, 200), (5, 200), (6, 200), (7, 200)],
        "id long, label long",
    )
    q = collapse_by_label(g, labels, "sum")
    got = {(r["src"], r["dst"]): r["weight"] for r in q.edges.collect()}
    # intra-cluster-A edges: (0,3,1),(1,0,2),(1,4,3),(3,1,7),(3,4,8) = 21
    # intra-cluster-B edges: (2,5,5),(2,7,6),(5,6,10),(6,2,11) = 32
    # cross: (2,4,4),(4,5,9) = 13
    assert got == {(100, 100): 21.0, (200, 200): 32.0, (100, 200): 13.0}


def test_nodemap_algebra(spark):
    nm = spark.createDataFrame(
        [(1, 10.0), (2, 5.0), (3, 20.0), (4, 5.0)], "id long, value double"
    )
    assert [r["id"] for r in nodemap_sort(nm).collect()] == [2, 4, 1, 3]
    assert [r["id"] for r in nodemap_sort(nm, ascending=False, limit=2).collect()] == [3, 1]
    sel = nodemap_select(nm, spark.createDataFrame([(1,), (3,)], "id long"))
    assert {r["id"] for r in sel.collect()} == {1, 3}
    filt = nodemap_filter(nm, "value > 7")
    assert {r["id"] for r in filt.collect()} == {1, 3}
    from pyspark.sql import functions as F

    doubled = nodemap_apply(nm, F.col("value") * 2)
    assert {r["id"]: r["value"] for r in doubled.collect()} == {
        1: 20.0, 2: 10.0, 3: 40.0, 4: 10.0
    }
    assert nodemap_reduce(nm, "sum") == 40.0
    assert nodemap_reduce(nm, "min") == 5.0
    # choose_random: deterministic k-subset
    ns = spark.createDataFrame([(i,) for i in range(20)], "id long")
    pick1 = {r["id"] for r in nodeset_choose_random(ns, 5, seed=3).collect()}
    pick2 = {r["id"] for r in nodeset_choose_random(ns, 5, seed=3).collect()}
    assert pick1 == pick2 and len(pick1) == 5


# ---- subgraph.subisomorphic (reference test_subgraph.py:114-176) ----
SUBISO_BIG = [
    (0, 0), (0, 1), (0, 3), (0, 6), (1, 2), (2, 0), (2, 1), (2, 5), (2, 7),
    (2, 8), (3, 1), (3, 2), (3, 8), (4, 0), (4, 6), (4, 8), (5, 2), (5, 4),
    (6, 4), (6, 5), (6, 7), (7, 1), (7, 4), (7, 6), (7, 7), (8, 2), (8, 5),
    (8, 6),
]
SUBISO_G1 = [(0, 0), (0, 1), (0, 3), (1, 2), (2, 0), (2, 1), (3, 1), (3, 2), (4, 0)]
SUBISO_G2 = [(0, 3), (0, 4), (1, 2), (2, 0), (2, 2), (2, 4), (3, 2), (3, 4), (4, 3)]


def _g(spark, edges, directed=True):
    return build(
        df_from_edges(spark, [(s, d, 1.0) for s, d in edges]), is_directed=directed
    )


def test_subisomorphic_reference_fixture(spark):
    from metagraph_spark.operators.subgraph import subisomorphic

    big = _g(spark, SUBISO_BIG)
    assert subisomorphic(big, _g(spark, SUBISO_G1)) is True
    assert subisomorphic(big, _g(spark, SUBISO_G2)) is True
    # pattern larger than target -> False without search
    assert subisomorphic(_g(spark, SUBISO_G1), big) is False


@pytest.mark.slow
def test_subisomorphic_vs_networkx(spark):
    """Random-graph parity with nx DiGraphMatcher (induced semantics)."""
    import random

    from networkx.algorithms import isomorphism

    from metagraph_spark.operators.subgraph import subisomorphic

    rng = random.Random(7)
    target_edges = set()
    while len(target_edges) < 40:
        target_edges.add((rng.randrange(12), rng.randrange(12)))
    target_edges = sorted(target_edges)
    big = _g(spark, target_edges)
    nx_big = nx.DiGraph(target_edges)
    for trial in range(6):
        pat_edges = set()
        while len(pat_edges) < 5:
            pat_edges.add((rng.randrange(5), rng.randrange(5)))
        pat_edges = sorted(pat_edges)
        expected = isomorphism.DiGraphMatcher(
            nx_big, nx.DiGraph(pat_edges)
        ).subgraph_is_isomorphic()
        got = subisomorphic(big, _g(spark, pat_edges))
        assert got == expected, (trial, pat_edges, got, expected)


def test_subisomorphic_isolated_pattern_nodes(spark):
    """INDUCED semantics: an edgeless pattern needs mutually non-adjacent
    images — a clique target of exactly pattern size must reject."""
    from metagraph_spark.operators.subgraph import subisomorphic

    k3 = _g(spark, [(0, 1), (1, 2), (2, 0)], directed=False)
    spark_nodes = df_from_edges(spark, [(10, 11, 1.0)]).sparkSession
    edgeless3 = build(
        spark_nodes.createDataFrame([], "src long, dst long, weight double"),
        nodes=spark_nodes.createDataFrame([(1,), (2,), (3,)], "id long"),
        is_directed=False,
    )
    assert subisomorphic(k3, edgeless3) is False
    # path target has two non-adjacent endpoints -> edgeless pair fits
    path3 = _g(spark, [(0, 1), (1, 2)], directed=False)
    edgeless2 = build(
        spark_nodes.createDataFrame([], "src long, dst long, weight double"),
        nodes=spark_nodes.createDataFrame([(1,), (2,)], "id long"),
        is_directed=False,
    )
    assert subisomorphic(path3, edgeless2) is True


def test_subisomorphic_guards(spark, monkeypatch):
    from metagraph_spark.exceptions import GraphPropertyError
    from metagraph_spark.operators import routing
    from metagraph_spark.operators.subgraph import subisomorphic

    big = _g(spark, SUBISO_BIG)
    pat = _g(spark, SUBISO_G1)
    with pytest.raises(GraphPropertyError, match="directedness"):
        subisomorphic(big, _g(spark, SUBISO_G1, directed=False))
    with monkeypatch.context() as mp:
        mp.setattr(routing, "SUBISO_MAX_PATTERN_NODES", 2)
        with pytest.raises(GraphPropertyError, match="exponential"):
            subisomorphic(big, pat)
    with monkeypatch.context() as mp:
        mp.setattr(routing, "SUBISO_MAX_EDGES", 3)
        with pytest.raises(GraphPropertyError, match="refuses"):
            subisomorphic(big, pat)


@pytest.mark.slow
def test_graph_isomorphic_exact(spark):
    from metagraph_spark.operators.subgraph import graph_isomorphic

    g = _g(spark, SUBISO_G1)
    # relabeled copy: same structure under i -> i+10
    relabeled = _g(spark, [(s + 10, d + 10) for s, d in SUBISO_G1])
    assert graph_isomorphic(g, relabeled) is True
    # G2 is the same induced subgraph of SUBISO_BIG under the reference's
    # relabeling (2->0, 4->1, 3->2, 0->3, 1->4), so it IS isomorphic to G1
    assert graph_isomorphic(g, _g(spark, SUBISO_G2)) is True
    # identical |V|/|E|/degree histogram, different wiring — passes the
    # distributed quick-reject, only the exact search can reject: C6 vs 2xC3
    c6_edges = [(i, (i + 1) % 6) for i in range(6)]
    c3x2_edges = [(0, 1), (1, 2), (2, 0), (3, 4), (4, 5), (5, 3)]
    assert not nx.is_isomorphic(nx.DiGraph(c6_edges), nx.DiGraph(c3x2_edges))
    assert graph_isomorphic(_g(spark, c6_edges), _g(spark, c3x2_edges)) is False
