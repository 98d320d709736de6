"""Centrality parity tests vs the reference golden values
(/root/reference/metagraph/tests/algorithms/test_centrality.py) and the
networkx oracle (the reference's own concrete implementation backend).
"""

import math

import networkx as nx
import pytest

from metagraph_spark.graph import build
from metagraph_spark.operators import routing
from metagraph_spark.operators.centrality import (
    betweenness_centrality,
    closeness_centrality,
    eigenvector_centrality,
    hits_centrality,
    katz_centrality,
)
from metagraph_spark.operators.utility import degree_centrality
from tests.conftest import df_from_edges

# build_standard_graph (reference test_centrality.py:10-35)
STD_EDGES = [
    (0, 3, 1), (1, 0, 2), (1, 4, 3), (2, 4, 4), (2, 5, 5), (2, 7, 6),
    (3, 1, 7), (3, 4, 8), (4, 5, 9), (5, 6, 10), (6, 2, 11),
]


def to_map(df, col):
    return {r["id"]: r[col] for r in df.collect()}


def assert_close_map(got, expected, rel_tol=1e-5, abs_tol=0.0):
    assert set(got) == set(expected)
    for k in expected:
        assert math.isclose(got[k], expected[k], rel_tol=rel_tol, abs_tol=abs_tol), (
            k, got[k], expected[k],
        )


def test_katz_golden(spark):
    # reference test_centrality.py:106-144
    edges = [
        (0, 1, 1), (0, 2, 1), (2, 0, 1), (1, 2, 1),
        (1, 5, 1), (3, 2, 1), (3, 4, 1), (5, 4, 1),
    ]
    expected = {
        0: 0.4069549895218489, 1: 0.40687482321632046, 2: 0.41497162410274485,
        3: 0.40280527348222406, 4: 0.410902066312543, 5: 0.4068740216338262,
    }
    g = build(df_from_edges(spark, edges), is_directed=True)
    got = to_map(katz_centrality(g, tolerance=1e-7), "katz")
    assert_close_map(got, expected, rel_tol=1e-5)


def test_eigenvector_golden(spark):
    # reference test_centrality.py:212-227 (undirected standard graph)
    expected = {
        0: 0.020423514776793383, 1: 0.1216061915242645, 2: 0.4952504137080315,
        3: 0.19192850773469566, 4: 0.40219428149335384, 5: 0.5208716146004136,
        6: 0.5001662420138591, 7: 0.1394687823680235,
    }
    g = build(df_from_edges(spark, STD_EDGES), is_directed=False)
    got = to_map(eigenvector_centrality(g, maxiter=200, tolerance=1e-6), "eigenvector")
    assert_close_map(got, expected, rel_tol=1e-3)


def test_hits_golden(spark):
    # reference test_centrality.py:230-255 (directed standard graph)
    hubs_exp = {
        0: 1.0693502568464412e-135, 1: 0.0940640958864079, 2: 0.3219827031019462,
        3: 0.36559982252958123, 4: 0.2183519269850825, 5: 1.069350256846441e-11,
        6: 1.451486288792823e-06, 7: 0.0,
    }
    auth_exp = {
        0: 0.014756025909040777, 1: 0.2007333553742929, 2: 1.5251309332182024e-06,
        3: 1.2359669426636484e-134, 4: 0.35256375000871987, 5: 0.2804151003457033,
        6: 1.2359669426636479e-11, 7: 0.15153024321895017,
    }
    g = build(df_from_edges(spark, STD_EDGES), is_directed=True)
    hubs, auth = hits_centrality(g, maxiter=100, tolerance=1e-6)
    got_h, got_a = to_map(hubs, "hubs"), to_map(auth, "authority")
    for k in hubs_exp:
        assert math.isclose(got_h[k], hubs_exp[k], rel_tol=1e-3, abs_tol=2e-6)
        assert math.isclose(got_a[k], auth_exp[k], rel_tol=1e-3, abs_tol=2e-6)


def test_closeness_golden(spark):
    # reference test_centrality.py:192-209 (undirected standard graph)
    expected = {
        0: 0.10606060606060606, 1: 0.1206896551724138, 2: 0.1346153846153846,
        3: 0.09722222222222222, 4: 0.1346153846153846, 5: 0.09210526315789473,
        6: 0.0625, 7: 0.07954545454545454,
    }
    g = build(df_from_edges(spark, STD_EDGES), is_directed=False)
    got = to_map(closeness_centrality(g), "closeness")
    assert_close_map(got, expected, rel_tol=1e-9)


def test_betweenness_golden_single_hub(spark):
    # reference test_centrality.py:38-57 (weighted directed standard graph)
    expected = {0: 1.0, 1: 1.0, 2: 9.0, 3: 6.0, 4: 12.0, 5: 13.0, 6: 11.0, 7: 0.0}
    g = build(df_from_edges(spark, STD_EDGES), is_directed=True)
    got = to_map(betweenness_centrality(g, normalize=False), "betweenness")
    assert_close_map(got, expected, rel_tol=1e-9)


def test_betweenness_golden_multiple_hubs(spark):
    # reference test_centrality.py:60-103
    edges = [
        (0, 1, 2), (0, 3, 0.1), (1, 5, 1), (2, 5, 5), (2, 7, 6), (3, 1, 7),
        (3, 4, 0.1), (4, 1, 3), (4, 2, 1), (5, 6, 10), (6, 2, 11),
    ]
    expected = {0: 0.0, 1: 6.0, 2: 7.0, 3: 3.0, 4: 7.0, 5: 7.0, 6: 4.0, 7: 0.0}
    g = build(df_from_edges(spark, edges), is_directed=True)
    got = to_map(betweenness_centrality(g, normalize=False), "betweenness")
    assert_close_map(got, expected, rel_tol=1e-9)


def test_betweenness_distributed_weighted_goldens(spark, monkeypatch):
    """The weighted distributed strategy (implicit shortest-path DAG +
    level-layered sweeps — the scale path past the broadcast-CSR guard
    for weighted graphs) reproduces BOTH reference goldens, forced via
    the auto fall-through past BETWEENNESS_MAX_EDGES=1 AND via
    strategy='distributed'."""
    expected = {0: 1.0, 1: 1.0, 2: 9.0, 3: 6.0, 4: 12.0, 5: 13.0, 6: 11.0, 7: 0.0}
    g = build(df_from_edges(spark, STD_EDGES), is_directed=True)
    with monkeypatch.context() as mp:
        mp.setattr(routing, "BETWEENNESS_MAX_EDGES", 1)
        got = to_map(
            betweenness_centrality(g, normalize=False, strategy="auto"),
            "betweenness",
        )
    assert_close_map(got, expected, rel_tol=1e-9)
    edges = [
        (0, 1, 2), (0, 3, 0.1), (1, 5, 1), (2, 5, 5), (2, 7, 6), (3, 1, 7),
        (3, 4, 0.1), (4, 1, 3), (4, 2, 1), (5, 6, 10), (6, 2, 11),
    ]
    expected = {0: 0.0, 1: 6.0, 2: 7.0, 3: 3.0, 4: 7.0, 5: 7.0, 6: 4.0, 7: 0.0}
    g = build(df_from_edges(spark, edges), is_directed=True)
    got = to_map(
        betweenness_centrality(g, normalize=False, strategy="distributed"),
        "betweenness",
    )
    assert_close_map(got, expected, rel_tol=1e-9)


@pytest.mark.slow
def test_betweenness_distributed_weighted_matches_kernel_and_nx(spark):
    """Weighted distributed strategy vs broadcast-CSR kernel vs networkx
    weighted subset-Brandes on a random weighted undirected graph with a
    source subset (integer weights: shortest-path sums round identically
    across engines, so the implicit-DAG float-equality test is exact)."""
    import random

    rng = random.Random(11)
    n = 30
    nxg = nx.gnp_random_graph(n, 0.15, seed=11)
    edges = [(u, v, float(rng.randint(1, 9))) for u, v in nxg.edges()]
    for u, v, w in edges:
        nxg[u][v]["weight"] = w
    g = build(df_from_edges(spark, edges, weighted=True), is_directed=False)
    non_isolated = [v for v in range(n) if nxg.degree(v) > 0]
    srcs = sorted(rng.sample(non_isolated, 10))
    src_df = spark.createDataFrame([(s,) for s in srcs], "id long")
    want_nx = nx.betweenness_centrality_subset(
        nxg, sources=srcs, targets=srcs, normalized=False, weight="weight"
    )
    kern = to_map(
        betweenness_centrality(g, nodes=src_df, strategy="kernel"),
        "betweenness",
    )
    dist = to_map(
        betweenness_centrality(g, nodes=src_df, strategy="distributed"),
        "betweenness",
    )
    for v in range(n):
        assert math.isclose(
            dist.get(v, 0.0), kern.get(v, 0.0), rel_tol=1e-9, abs_tol=1e-9
        ), (v, dist.get(v), kern.get(v))
        assert math.isclose(
            dist.get(v, 0.0), want_nx.get(v, 0.0), rel_tol=1e-9, abs_tol=1e-9
        ), (v, dist.get(v), want_nx.get(v))


def test_degree_centrality_golden(spark):
    # reference test_centrality.py:258-307
    g = build(df_from_edges(spark, STD_EDGES), is_directed=True)
    out_exp = {0: 1/7, 1: 2/7, 2: 3/7, 3: 2/7, 4: 1/7, 5: 1/7, 6: 1/7, 7: 0.0}
    in_exp = {0: 1/7, 1: 1/7, 2: 1/7, 3: 1/7, 4: 3/7, 5: 2/7, 6: 1/7, 7: 1/7}
    both_exp = {0: 2/7, 1: 3/7, 2: 4/7, 3: 3/7, 4: 4/7, 5: 3/7, 6: 2/7, 7: 1/7}
    zero_exp = {k: 0.0 for k in range(8)}
    assert_close_map(
        to_map(degree_centrality(g, in_edges=False, out_edges=True), "centrality"),
        out_exp, rel_tol=1e-3)
    assert_close_map(
        to_map(degree_centrality(g, in_edges=True, out_edges=False), "centrality"),
        in_exp, rel_tol=1e-3)
    assert_close_map(
        to_map(degree_centrality(g, in_edges=True, out_edges=True), "centrality"),
        both_exp, rel_tol=1e-3)
    assert_close_map(
        to_map(degree_centrality(g, in_edges=False, out_edges=False), "centrality"),
        zero_exp, rel_tol=1e-3, abs_tol=1e-12)


def test_degree_centrality_undirected_golden(spark):
    # reference test_centrality.py:309-340
    edges = [(0, 1), (0, 2), (1, 2), (3, 2)]
    g = build(df_from_edges(spark, edges, weighted=False), is_directed=False)
    expected = {0: 2/3, 1: 2/3, 2: 1.0, 3: 1/3}
    got = to_map(degree_centrality(g), "centrality")
    assert_close_map(got, expected, rel_tol=1e-3)


def test_closeness_subset_matches_nx(spark):
    g = build(df_from_edges(spark, STD_EDGES), is_directed=True)
    nodes = spark.createDataFrame([(2,), (4,), (7,)], "id long")
    got = to_map(closeness_centrality(g, nodes), "closeness")
    nxg = nx.DiGraph()
    nxg.add_weighted_edges_from(STD_EDGES)
    expected = {v: nx.closeness_centrality(nxg, v, distance="weight") for v in (2, 4, 7)}
    assert_close_map(got, expected, rel_tol=1e-9)


def test_closeness_all_nodes_guard(spark, monkeypatch):
    """closeness over ALL nodes is O(V^2) relaxation state — refused past
    the guard; an explicit NodeSet subset always works."""
    import metagraph_spark.operators.centrality as C
    from metagraph_spark.exceptions import GraphPropertyError

    monkeypatch.setattr(routing, "CLOSENESS_ALL_NODES_LIMIT", 3)
    g = build(
        df_from_edges(
            spark, [(0, 1, 1.0), (1, 2, 1.0), (2, 3, 1.0)], weighted=True
        ),
        is_directed=False,
    )
    with pytest.raises(GraphPropertyError):
        C.closeness_centrality(g)  # 4 nodes > patched limit 3
    out = C.closeness_centrality(g, g.node_ids().limit(2))
    assert out.count() == 2


def test_betweenness_edge_guard(spark, monkeypatch):
    # strategy='kernel' past the broadcast guard still refuses loudly;
    # 'auto' now falls through to the weighted distributed strategy
    # instead (covered by the weighted-goldens test)
    from metagraph_spark.exceptions import GraphPropertyError

    g = build(
        df_from_edges(spark, STD_EDGES, weighted=True), is_directed=True
    )
    monkeypatch.setattr(routing, "BETWEENNESS_MAX_EDGES", 2)
    with pytest.raises(GraphPropertyError):
        betweenness_centrality(g, strategy="kernel")


def test_betweenness_validates_sources(spark):
    from metagraph_spark.exceptions import GraphPropertyError

    g = build(
        df_from_edges(spark, STD_EDGES, weighted=True), is_directed=True
    )
    missing = spark.createDataFrame([(999,), (0,)], "id long")
    with pytest.raises(GraphPropertyError, match="not in graph"):
        betweenness_centrality(g, nodes=missing)


def test_betweenness_dedups_duplicate_sources(spark):
    """A duplicated source id must not run (and sum) its Brandes pass
    twice."""
    g = build(
        df_from_edges(spark, STD_EDGES, weighted=True), is_directed=True
    )
    once = spark.createDataFrame([(0,), (1,)], "id long")
    dup = spark.createDataFrame([(0,), (0,), (1,)], "id long")
    a = {r["id"]: r["betweenness"]
         for r in betweenness_centrality(g, nodes=once).collect()}
    b = {r["id"]: r["betweenness"]
         for r in betweenness_centrality(g, nodes=dup).collect()}
    assert a == b


@pytest.mark.slow
def test_betweenness_distributed_matches_kernel_and_nx(spark, monkeypatch):
    """The distributed BFS strategy (scale path past the broadcast-CSR
    guard) must agree with the kernel strategy AND networkx subset-Brandes
    on an unweighted graph. `BETWEENNESS_MAX_EDGES=1` forces auto past the
    guard, so this also exercises the auto fall-through."""
    import networkx as nx

    rng = __import__("random").Random(7)
    n = 40
    nxg = nx.gnp_random_graph(n, 0.12, seed=7)
    edges = [(u, v) for u, v in nxg.edges()]
    g = build(df_from_edges(spark, edges, weighted=False), is_directed=False)
    srcs = sorted(rng.sample(range(n), 12))
    src_df = spark.createDataFrame([(s,) for s in srcs], "id long")
    want_nx = nx.betweenness_centrality_subset(
        nxg, sources=srcs, targets=srcs, normalized=False
    )
    kern = to_map(
        betweenness_centrality(g, nodes=src_df, strategy="kernel"),
        "betweenness",
    )
    monkeypatch.setattr(routing, "BETWEENNESS_MAX_EDGES", 1)
    dist = to_map(
        betweenness_centrality(g, nodes=src_df, strategy="auto"),
        "betweenness",
    )
    for v in range(n):
        assert math.isclose(
            dist.get(v, 0.0), kern.get(v, 0.0), rel_tol=1e-9, abs_tol=1e-9
        ), (v, dist.get(v), kern.get(v))
        assert math.isclose(
            dist.get(v, 0.0), want_nx.get(v, 0.0), rel_tol=1e-9, abs_tol=1e-9
        ), (v, dist.get(v), want_nx.get(v))


def test_betweenness_distributed_guards(spark):
    """Oversized source sets must refuse the per-source loop — both the
    unweighted BFS variant and the weighted DAG variant."""
    from metagraph_spark.exceptions import GraphPropertyError

    g_u = build(
        df_from_edges(spark, [(0, 1), (1, 2)], weighted=False),
        is_directed=False,
    )
    from metagraph_spark.operators.centrality import (
        _betweenness_distributed,
        _betweenness_distributed_weighted,
    )

    with pytest.raises(GraphPropertyError):
        _betweenness_distributed(g_u, None, False, max_sources=2)
    g_w = build(
        df_from_edges(spark, [(0, 1, 2.0), (1, 2, 3.0)], weighted=True),
        is_directed=False,
    )
    with pytest.raises(GraphPropertyError):
        _betweenness_distributed_weighted(g_w, None, False, max_sources=2)
