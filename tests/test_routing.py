"""The route planner (``operators/routing.py``): every remaining route of
each iterative operator agrees on one adversarial graph (weighted katz and
the warm starts included), the driver routes read the edges they are
given through ``Graph.driver_layout``, their results leave through
``graph.driver_frame`` as RDD-backed Arrow relations, and the
benchmark's layer hooks still resolve."""

import ast
import glob
import importlib
import math
import os
import pathlib
import re
import sys
import tempfile
import threading

import numpy as np
import pandas as pd
import pytest

import metagraph_spark.graph as graph_mod
from metagraph_spark.graph import build
from metagraph_spark.operators import (
    embedding,
    flow,
    kernel,
    kernel_algos,
    routing,
    subgraph,
    traversal,
)
from metagraph_spark.operators.centrality import (
    betweenness_centrality,
    eigenvector_centrality,
    hits_centrality,
    katz_centrality,
)
from metagraph_spark.operators.components import connected_components
from metagraph_spark.operators.embedding import hope_katz_train
from metagraph_spark.operators.lpa import label_propagation_community
from metagraph_spark.operators.pagerank import pagerank
from metagraph_spark.operators.triangles import triangle_count
from tests.conftest import df_from_edges, spy_calls

BIG = 2**31 + 7
# duplicate edge (1, 2), self-loop (3, 3), negative id -5, an id past
# int32, two triangles (-5, 1, 2) and (1, 2, 3); node 9 is isolated
EDGES = [(-5, 1), (1, 2), (2, -5), (1, 2), (2, 3), (3, 1), (3, 3),
         (3, BIG), (BIG, 4), (4, 5)]

# the loop each kernel route must run, per op
LOOPS = {
    "pagerank": (kernel, "driver_block_arrays", kernel,
                 "_distributed_superstep_loop"),
    "katz": (kernel, "driver_block_arrays", kernel_algos,
             "_distributed_katz_loop"),
    "cc": (kernel_algos, "_driver_cc_loop", kernel_algos,
           "_distributed_cc_loop"),
    "lpa": (kernel_algos, "_driver_lpa_loop", kernel_algos,
            "_distributed_lpa_loop"),
    "eigenvector": (kernel_algos, "_driver_eigenvector_loop", kernel_algos,
                    "_gather_once"),
    "hits": (kernel_algos, "_driver_hits_loop", kernel_algos,
             "_gather_once"),
}


def _graph(spark, directed):
    # one input partition each: every stage of this test runs few tasks
    nodes = spark.createDataFrame([(9,)], "id long").coalesce(1)
    edges = df_from_edges(spark, EDGES, weighted=False).coalesce(1)
    return build(edges, nodes=nodes, is_directed=directed)


def _force(monkeypatch, route):
    """Caps that make "auto" plan ``route`` on the test graph."""
    if route != "kernel-driver":
        monkeypatch.setattr(routing, "DRIVER_MAX_EDGES", -1)
    if route in ("join", "hash-min"):
        monkeypatch.setattr(routing, "KERNEL_AUTO_MAX_EDGES", -1)
        monkeypatch.setattr(routing, "POSITIONAL_MAX_VERTICES", 0)


def _run_routes(tmp_path, op, g, routes, call, temp_layout=False):
    """{route: output} of ``call(spill_dir)`` with the caps forcing each
    route, after checking the planner's choice and the loop that ran.
    ``kernel-distributed`` lays its blocks out under ``tmp_path``, or with
    ``temp_layout`` under a temp dir the kernel must remove."""
    out = {}
    for route in routes:
        with pytest.MonkeyPatch.context() as mp:
            _force(mp, route)
            spill = (str(tmp_path / f"{op}_{len(out)}")
                     if route == "kernel-distributed" and not temp_layout
                     else None)
            assert routing.plan(op, g, spill_dir=spill)[0] == route
            ran = []
            if op in LOOPS and route.startswith("kernel"):
                d_mod, d_name, s_mod, s_name = LOOPS[op]
                mod, name = ((d_mod, d_name) if route == "kernel-driver"
                             else (s_mod, s_name))
                ran = spy_calls(mp, mod, name)
            before = _temp_layouts()
            out[route] = call(spill)
            assert ran or not route.startswith("kernel"), (op, route)
            assert _temp_layouts() == before  # temp layouts are removed
    return out


def _temp_layouts():
    return set(glob.glob(os.path.join(tempfile.gettempdir(),
                                      "mgspark_blocks_*")))


def _close(a, b):
    """Values (or tuples of values, as HITS's ``(hub, authority)``) agree
    at rel 1e-9."""
    assert set(a) == set(b)
    for k in a:
        xs, ys = a[k], b[k]
        if not isinstance(xs, tuple):
            xs, ys = (xs,), (ys,)
        for x, y in zip(xs, ys, strict=True):
            assert math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-12), k


ROUTES = ["kernel-driver", "kernel-distributed", "join"]
# eigenvector and HITS: above the driver caps, a broadcast gather over
# file-backed blocks in a temp dir
BROADCAST_ROUTES = ["kernel-driver", "kernel-broadcast", "join"]
IDS = {-5, 1, 2, 3, 4, 5, 9, BIG}


def _by_id(df, col):
    return {r["id"]: r[col] for r in df.collect()}


def _hits(g, d):
    hubs, auth = hits_centrality(g, fixed_iterations=4)
    a = _by_id(auth, "authority")
    return {k: (v, a[k]) for k, v in _by_id(hubs, "hubs").items()}


def _pagerank(fixed):
    return lambda g, d: _by_id(pagerank(
        g, fixed_iterations=fixed, maxiter=100, tolerance=1e-3,
        kernel_spill_dir=d), "rank")


# op -> (planner op, directed graph?, routes, call(graph, spill_dir),
#        temp layout?) — katz and LPA take the "auto" slice-store route
#        without a spill dir, the others with one; eigenvector and HITS
#        have no spill dir option
CASES = {
    "pagerank_fixed": ("pagerank", True, ROUTES, _pagerank(4), False),
    "pagerank_converged": ("pagerank", True, ROUTES, _pagerank(None), False),
    "katz": ("katz", False, ROUTES, lambda g, d: _by_id(katz_centrality(
        g, fixed_iterations=4, kernel_spill_dir=d), "katz"), True),
    "cc": ("cc", False, ["kernel-driver", "kernel-distributed", "hash-min"],
           lambda g, d: _by_id(connected_components(
               g, kernel_spill_dir=d), "label"), False),
    "lpa": ("lpa", False, ROUTES, lambda g, d: _by_id(
        label_propagation_community(g, fixed_rounds=3, kernel_spill_dir=d),
        "label"), True),
    "triangles": ("triangles", False, ["tri_kernel", "join"],
                  lambda g, d: triangle_count(g, kernel_spill_dir=d), False),
    "eigenvector": ("eigenvector", False, BROADCAST_ROUTES,
                    lambda g, d: _by_id(eigenvector_centrality(
                        g, fixed_iterations=4), "eigenvector"), True),
    "hits": ("hits", True, BROADCAST_ROUTES, _hits, True),
}


@pytest.fixture
def two_partitions(spark):
    """Two shuffle partitions (two blocks per layout) keep the many tiny
    Spark jobs of this test cheap."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    yield
    spark.conf.set("spark.sql.shuffle.partitions", old)


@pytest.mark.parametrize("case", sorted(CASES))
def test_every_route_agrees_on_adversarial_graph(spark, tmp_path,
                                                  two_partitions, case):
    """Exact agreement for CC, LPA and triangles; 1e-9 for pagerank,
    katz, eigenvector and HITS."""
    op, directed, routes, call, temp_layout = CASES[case]
    g = _graph(spark, directed)
    out = _run_routes(tmp_path, op, g, routes, lambda d: call(g, d),
                      temp_layout)
    ref = out[routes[-1]]  # the join plan
    if op in ("pagerank", "katz", "eigenvector", "hits"):
        assert set(ref) == IDS
        for route in routes[:-1]:
            _close(ref, out[route])
        if op == "pagerank":
            assert math.isclose(sum(ref.values()), 1.0, rel_tol=1e-9)
        return
    assert all(v == ref for v in out.values()), out
    if op == "cc":
        assert ref == {-5: -5, 1: -5, 2: -5, 3: -5, 4: -5, 5: -5, BIG: -5,
                       9: 9}
    elif op == "lpa":
        assert set(ref) == IDS and ref[9] == 9
    else:
        assert ref == 2


def test_planner_keeps_checkpoint_and_warm_start_routes(spark, tmp_path):
    from metagraph_spark.state import CheckpointManager

    g = _graph(spark, True)
    ck = CheckpointManager(root=str(tmp_path / "ck"), run_id="r")
    assert routing.plan("pagerank", g, checkpointer=ck)[0] == "join"
    assert routing.plan("pagerank", g, warm_start=g.edges)[0] == "join"
    assert routing.plan("cc", g, warm_start=g.edges)[0] == "hash-min"
    assert routing.plan("cc", g, fixed=True)[0] == "kernel-driver"
    with pytest.raises(ValueError, match="checkpointer"):
        routing.plan("lpa", g, "kernel", checkpointer=ck)
    with pytest.raises(ValueError, match="unknown connected_components"):
        routing.plan("cc", g, "fast")


def test_eigenvector_hits_plan_counts_gathered_edges(spark, monkeypatch):
    """Eigenvector gathers over both directions of an undirected graph,
    so its driver cap is compared against 2m (HITS, directed, against m);
    above the caps the broadcast route needs a shared temp dir, and an
    explicit "kernel" without one raises."""
    g = _graph(spark, False)
    m = g.num_edges()
    monkeypatch.setattr(routing, "DRIVER_MAX_EDGES", 2 * m)
    assert routing.plan("eigenvector", g)[0] == "kernel-driver"
    monkeypatch.setattr(routing, "DRIVER_MAX_EDGES", 2 * m - 1)
    assert routing.plan("eigenvector", g)[0] == "kernel-broadcast"
    gd = _graph(spark, True)
    monkeypatch.setattr(routing, "DRIVER_MAX_EDGES", m)
    assert routing.plan("hits", gd)[0] == "kernel-driver"
    monkeypatch.setattr(routing, "DRIVER_MAX_EDGES", m - 1)
    monkeypatch.setattr(kernel, "shared_fs_available", lambda *a: False)
    assert routing.plan("hits", gd)[0] == "join"
    with pytest.raises(ValueError, match="no kernel route"):
        routing.plan("hits", gd, "kernel")


def test_benchmark_layer_hooks_resolve():
    """Every (module, attribute) the benchmark's tracer wraps must still
    exist as a module-level name (``Class.method`` on its class): a rename
    would otherwise fail every benchmark call."""
    from perfbench.tracing import WRAPPED

    for _layer, modname, attr in WRAPPED:
        obj = importlib.import_module(modname)
        for part in attr.split("."):
            assert hasattr(obj, part), f"{modname}.{attr}"
            obj = getattr(obj, part)
        assert callable(obj), f"{modname}.{attr}"


def _pandas_to_spark_calls(root) -> list:
    """``file:line`` of every ``createDataFrame`` call under ``root`` whose
    data is a pandas frame: a ``pd.DataFrame(...)``/``pd.concat(...)``
    call, or a name assigned from one in the same module."""
    found = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text())
        pandas = {a.asname or a.name for n in ast.walk(tree)
                  if isinstance(n, ast.Import)
                  for a in n.names if a.name == "pandas"}
        bare = {a.asname or a.name for n in ast.walk(tree)
                if isinstance(n, ast.ImportFrom) and n.module == "pandas"
                for a in n.names if a.name in ("DataFrame", "concat")}

        def is_frame(node):
            if not isinstance(node, ast.Call):
                return False
            f = node.func
            return ((isinstance(f, ast.Name) and f.id in bare)
                    or (isinstance(f, ast.Attribute)
                        and f.attr in ("DataFrame", "concat")
                        and isinstance(f.value, ast.Name)
                        and f.value.id in pandas))

        frames = {t.id for n in ast.walk(tree)
                  if isinstance(n, ast.Assign) and is_frame(n.value)
                  for t in n.targets if isinstance(t, ast.Name)}
        for n in ast.walk(tree):
            if not (isinstance(n, ast.Call)
                    and isinstance(n.func, ast.Attribute)
                    and n.func.attr == "createDataFrame"):
                continue
            data = n.args[:1] + [k.value for k in n.keywords
                                 if k.arg == "data"]
            if any(is_frame(d) or (isinstance(d, ast.Name) and d.id in frames)
                   for d in data):
                found.append(f"{path.relative_to(root)}:{n.lineno}")
    return found


def test_one_way_out_of_the_driver():
    """No engine module but ``graph.py`` (``driver_frame``) turns a pandas
    frame into a Spark DataFrame."""
    root = pathlib.Path(graph_mod.__file__).parent
    found = _pandas_to_spark_calls(root)
    assert [f for f in found if not f.startswith("graph.py:")] == []
    assert found  # the scan sees driver_frame's own call


def _int_valued(node) -> bool:
    if isinstance(node, ast.Constant):
        return type(node.value) is int
    if isinstance(node, ast.UnaryOp):
        return _int_valued(node.operand)
    if isinstance(node, ast.BinOp):
        return _int_valued(node.left) and _int_valued(node.right)
    return False


def _size_caps(root) -> list:
    """``file:NAME`` of every module-level int constant named like a size
    cap (``*_MAX_*``, ``MAX_*``, ``*_MAX``, ``*_LIMIT``) under ``root``."""
    cap = re.compile(r"(^|_)MAX(_|$)|_LIMIT$")
    found = []
    for path in sorted(root.rglob("*.py")):
        for n in ast.parse(path.read_text()).body:
            if isinstance(n, ast.Assign) and _int_valued(n.value):
                found += [f"{path.relative_to(root)}:{t.id}" for t in n.targets
                          if isinstance(t, ast.Name) and cap.search(t.id)]
    return found


def _graph_collects(root) -> list:
    """``file:line`` of every ``.toArrow()``/``.toPandas()``/``.collect()``
    whose receiver chain reaches ``.edges``, ``.symmetrized()`` or
    ``.node_ids()``; a chain through ``.agg(...)`` reads aggregate rows,
    not the graph, and is not counted."""
    found = []
    for path in sorted(root.rglob("*.py")):
        for n in ast.walk(ast.parse(path.read_text())):
            if not (isinstance(n, ast.Call)
                    and isinstance(n.func, ast.Attribute)
                    and n.func.attr in ("toArrow", "toPandas", "collect")):
                continue
            parts, node = set(), n.func.value
            while isinstance(node, (ast.Call, ast.Attribute, ast.Subscript)):
                if isinstance(node, ast.Attribute):
                    parts.add(node.attr)
                node = node.func if isinstance(node, ast.Call) else node.value
            if "agg" not in parts and parts & {"edges", "symmetrized",
                                               "node_ids"}:
                found.append(f"{path.relative_to(root)}:{n.lineno}")
    return found


def test_one_way_in_and_one_cap_table():
    """``routing.py`` is the only operator module that defines a size cap,
    and no engine module but ``graph.py`` (``collect_driver_layout``)
    collects a graph's edges or node ids."""
    root = pathlib.Path(graph_mod.__file__).parent
    caps = _size_caps(root / "operators")
    assert [c for c in caps if not c.startswith("routing.py:")] == []
    assert "routing.py:SEQUENTIAL_MAX_EDGES" in caps
    found = _graph_collects(root)
    assert [f for f in found if not f.startswith("graph.py:")] == []
    assert found  # the scan sees collect_driver_layout's own collect


# the slice-store protocol's calls, and the kernel.py helpers that alone
# may make them
STORE_CALLS = {"init_run", "mark_complete", "latest_complete", "put_meta",
               "get_meta", "cleanup"}
STORE_HELPERS = {"_open_run", "_resume_or_start", "_slice_superstep",
                 "_emit_slices", "_give_up"}


def _slice_store_sites(root) -> list:
    """``file:function:line`` of every ``.init_run()``/``.mark_complete()``/
    ``.latest_complete()``/``.put_meta()``/``.get_meta()``/``.cleanup()``
    call and every ``LocalSliceStore(...)`` under ``root``, outside the
    slice-store classes themselves; ``function`` is the top-level def."""
    found = []
    for path in sorted(root.rglob("*.py")):
        for top in ast.parse(path.read_text()).body:
            if isinstance(top, ast.ClassDef) and top.name.endswith("SliceStore"):
                continue
            for n in ast.walk(top):
                if not isinstance(n, ast.Call):
                    continue
                f = n.func
                if ((isinstance(f, ast.Attribute) and f.attr in STORE_CALLS)
                        or (isinstance(f, ast.Name)
                            and f.id == "LocalSliceStore")):
                    found.append(f"{path.relative_to(root)}:"
                                 f"{getattr(top, 'name', '-')}:{n.lineno}")
    return found


def test_one_slice_store_protocol():
    """Only the shared helpers in ``kernel.py`` open, resume, commit or
    remove a slice-store run; the pagerank, katz, CC and LPA loops call
    them."""
    root = pathlib.Path(graph_mod.__file__).parent
    found = _slice_store_sites(root)
    outside = [f for f in found
               if not (f.startswith("operators/kernel.py:")
                       and f.split(":")[1] in STORE_HELPERS)]
    assert outside == []
    assert {f.split(":")[1] for f in found} == STORE_HELPERS


# -------------------------------------------- the Graph's driver layout

def _four_ops(g):
    """pagerank, CC, LPA and triangles of one handle, all on the driver
    routes."""
    return {
        "pagerank": _by_id(pagerank(g, tolerance=1e-8, maxiter=100), "rank"),
        "cc": _by_id(connected_components(g), "label"),
        "lpa": _by_id(label_propagation_community(g, fixed_rounds=3),
                      "label"),
        "triangles": triangle_count(g),
    }


def _same(a, b):
    _close(a["pagerank"], b["pagerank"])
    assert {k: a[k] for k in ("cc", "lpa", "triangles")} == {
        k: b[k] for k in ("cc", "lpa", "triangles")}


def test_views_sharing_metadata_match_fresh_handles(spark, two_partitions):
    """A directed Graph and an undirected view over the same edges and
    metadata dict (the stream refresh pattern) each give the results of a
    fresh handle of its own kind, whichever of the two runs first."""
    base = _graph(spark, True)
    counts = {"num_nodes": base.num_nodes(), "num_edges": base.num_edges()}

    def handle(directed, metadata=None):
        return graph_mod.Graph(edges=base.edges, nodes=base.nodes,
                               is_directed=directed,
                               metadata=dict(counts) if metadata is None
                               else metadata)

    fresh = {d: _four_ops(handle(d)) for d in (True, False)}
    assert fresh[False]["triangles"] == 2
    for first in (True, False):
        g = handle(True)
        gu = handle(False, g.metadata)
        got = {h.is_directed: _four_ops(h)
               for h in ([g, gu] if first else [gu, g])}
        for d in (True, False):
            _same(got[d], fresh[d])


def test_layout_follows_new_edges(spark, two_partitions, monkeypatch):
    """Reassigning ``edges`` or ``nodes``, or partitioning the edges,
    collects again and gives the results of a fresh handle."""
    builds = spy_calls(monkeypatch, graph_mod, "collect_driver_layout")
    g = _graph(spark, False)
    assert triangle_count(g) == 2
    # drop (3, 1): one triangle left, same node set
    fewer = [e for e in EDGES if e != (3, 1)]
    g.edges = build(df_from_edges(spark, fewer, weighted=False)).edges
    g.metadata.pop("num_edges")
    assert triangle_count(g) == 1
    assert len(builds) == 2
    fresh = build(df_from_edges(spark, fewer, weighted=False),
                  nodes=g.nodes, is_directed=False)
    _same(_four_ops(g), _four_ops(fresh))
    assert len(builds) == 3
    # one more isolated node, same edges
    g.nodes = spark.createDataFrame([(9,), (11,)], "id long").coalesce(1)
    g.metadata.pop("num_nodes", None)
    fresh = build(fresh.edges, nodes=g.nodes, is_directed=False)
    got = _four_ops(fresh)
    assert got["cc"][11] == 11
    _same(_four_ops(g), got)
    assert len(builds) == 5
    p = fresh.partition_by_src(2)
    assert graph_mod._LAYOUT in fresh.metadata
    assert graph_mod._LAYOUT not in p.metadata
    _same(_four_ops(p), got)
    assert len(builds) == 6
    p.unpersist()


def test_one_collect_per_driver_route_call(spark, tmp_path, two_partitions,
                                           monkeypatch):
    """pagerank, CC, LPA, triangles and the sequential kernels (DFS, A*,
    the betweenness kernel, the subisomorphic pattern) on one handle
    collect the edges once, and so do max_flow then min_cut, and a
    directed and an undirected handle sharing one metadata dict; the kept
    arrays are read-only and ``unpersist`` drops them; calls routed above
    the driver caps collect nothing."""
    builds = spy_calls(monkeypatch, graph_mod, "collect_driver_layout")
    g = _graph(spark, False)
    _four_ops(g)
    assert len(builds) == 1
    lay = g.driver_layout()
    assert lay is builds[0]
    for a in (lay.ids, lay.src, lay.dst):
        with pytest.raises(ValueError, match="read-only"):
            a[0] = 0
    traversal.dfs_iter(g, 1).collect()
    traversal.dfs_tree(g, 1).collect()
    traversal.astar_search(g, 1, 5, lambda v: 0.0).collect()
    betweenness_centrality(g, strategy="kernel").collect()
    assert subgraph.subisomorphic(g, g)
    assert len(builds) == 1
    w = _flow_graph(spark)
    assert flow.max_flow(w, 1, BIG)[0] == flow.min_cut(w, 1, BIG)[0] == 2.0
    assert len(builds) == 2

    counts = {"num_nodes": 8, "num_edges": len(EDGES)}
    d = graph_mod.Graph(edges=g.edges, nodes=g.nodes, is_directed=True,
                        metadata=dict(counts))
    u = graph_mod.Graph(edges=g.edges, nodes=g.nodes, is_directed=False,
                        metadata=d.metadata)
    pagerank(d, fixed_iterations=2).collect()
    assert triangle_count(u) == 2
    assert len(builds) == 3
    u.unpersist()
    assert graph_mod._LAYOUT not in d.metadata

    g = graph_mod.Graph(edges=g.edges, nodes=g.nodes, is_directed=False,
                        metadata=dict(counts))
    monkeypatch.setattr(routing, "DRIVER_MAX_EDGES", -1)
    assert routing.plan("pagerank", g)[0] == "kernel-distributed"
    assert routing.plan("triangles", g)[0] == "tri_kernel"
    assert triangle_count(g) == 2
    connected_components(g, fixed_rounds=1,
                         kernel_spill_dir=str(tmp_path / "cc")).collect()
    pagerank(g, fixed_iterations=1,
             kernel_spill_dir=str(tmp_path / "pr")).collect()
    assert len(builds) == 3
    assert graph_mod._LAYOUT not in g.metadata


def _flow_graph(spark):
    return build(df_from_edges(spark, [(1, 2, 3.0), (1, 3, 1.0), (3, 2, 1.0),
                                       (2, BIG, 2.0)]).coalesce(1))


def _sequential_ops(g, w):
    """DFS, A*, the betweenness kernel on ``g`` and max-flow on ``w``."""
    return {
        "dfs": [tuple(r) for r in traversal.dfs_iter(g, 1).collect()],
        "astar": [tuple(r) for r in traversal.astar_search(
            g, 1, 5, lambda v: 0.0).collect()],
        "betweenness": _by_id(betweenness_centrality(g, strategy="kernel"),
                              "betweenness"),
        "flow": sorted(tuple(r)
                       for r in flow.max_flow(w, 1, BIG)[1].edges.collect()),
    }


def test_sequential_kernels_accept_graphs_above_the_driver_caps(
        spark, two_partitions, monkeypatch):
    """Above the driver caps but within ``SEQUENTIAL_MAX_EDGES`` and
    ``BETWEENNESS_MAX_EDGES``, DFS, A*, max-flow and the betweenness
    kernel still run on the driver and return the rows they return within
    the caps; the handles keep no layout."""
    within = _sequential_ops(_graph(spark, False), _flow_graph(spark))
    monkeypatch.setattr(routing, "DRIVER_MAX_EDGES", -1)
    g, w = _graph(spark, False), _flow_graph(spark)
    above = _sequential_ops(g, w)
    _close(above.pop("betweenness"), within.pop("betweenness"))
    assert above == within
    assert within["flow"] == [(1, 2, 2.0), (2, BIG, 2.0)]
    for h in (g, w):
        assert h.driver_layout() is None
        assert graph_mod._LAYOUT not in h.metadata


# ------------------------------------------------- route gaps: weights, warm

def test_weighted_katz_agrees_on_every_route(spark, tmp_path, two_partitions):
    """Katz over weighted, symmetrized duplicate and self-loop edges."""
    weighted = [(s, d, 0.5 + 0.25 * i) for i, (s, d) in enumerate(EDGES)]
    nodes = spark.createDataFrame([(9,)], "id long").coalesce(1)
    g = build(df_from_edges(spark, weighted).coalesce(1), nodes=nodes,
              is_directed=False)
    out = _run_routes(tmp_path, "katz", g, ROUTES, lambda d: _by_id(
        katz_centrality(g, fixed_iterations=4, kernel_spill_dir=d), "katz"))
    assert set(out["join"]) == IDS
    for route in ROUTES[:-1]:
        _close(out["join"], out[route])


def test_warm_starts_agree_with_cold_driver_runs(spark, two_partitions):
    """``incremental_pagerank`` seeded from the cold ranks and
    ``incremental_connected_components`` seeded from the labels before an
    append agree with cold kernel-driver runs on the full graph."""
    from metagraph_spark.operators.components import (
        incremental_connected_components,
    )
    from metagraph_spark.operators.pagerank import incremental_pagerank

    g = _graph(spark, True)
    assert routing.plan("pagerank", g)[0] == "kernel-driver"
    cold = pagerank(g, tolerance=1e-10, maxiter=200)
    warm = _by_id(incremental_pagerank(g, cold, tolerance=1e-8,
                                       maxiter=100), "rank")
    cold = _by_id(cold, "rank")
    assert set(warm) == IDS
    for k in cold:
        assert math.isclose(warm[k], cold[k], rel_tol=0, abs_tol=1e-6), k

    # before the append, (3, BIG) was missing: two components
    before = build(df_from_edges(spark, [e for e in EDGES if e != (3, BIG)],
                                 weighted=False).coalesce(1),
                   nodes=g.nodes, is_directed=False)
    prev = connected_components(before)
    assert len({r["label"] for r in prev.collect()}) == 3
    warm = _by_id(incremental_connected_components(g, prev), "label")
    assert warm == _by_id(connected_components(g), "label")


def test_triangles_plan_driver_route_without_shared_fs(spark, monkeypatch):
    """Within the driver caps the triangle count needs no filesystem
    shared with the executors, counted in the driver or, past the wedge
    cap, by a Spark job over the broadcast keys; above the caps it still
    does."""
    from metagraph_spark.operators import tri_kernel

    monkeypatch.setattr(kernel, "shared_fs_available", lambda *a: False)
    g = _graph(spark, False)
    assert routing.plan("triangles", g)[0] == "tri_kernel"
    jobs = spy_calls(monkeypatch, tri_kernel, "_count_ranges")
    assert triangle_count(g) == 2
    assert not jobs
    monkeypatch.setattr(routing, "DRIVER_MAX_WEDGES", 0)
    assert triangle_count(g) == 2
    assert jobs == [2]
    monkeypatch.setattr(routing, "DRIVER_MAX_EDGES", -1)
    assert routing.plan("triangles", g)[0] == "join"


def test_incremental_triangles_agree_with_cold_routes(spark, tmp_path,
                                                      two_partitions):
    """``incremental_triangle_count`` over one split of the adversarial
    graph: the batch closes both triangles, one of them with two new
    edges, and carries a reversed duplicate and a self-loop. The updated
    count equals the cold count on the ``tri_kernel`` and ``join``
    routes."""
    from metagraph_spark.operators.triangles import (
        incremental_triangle_count,
    )

    batch = [(3, 1), (1, 3), (2, 3), (3, 3), (BIG, 4), (2, -5)]
    old = [e for e in EDGES if e not in batch]
    full = build(df_from_edges(spark, old + batch, weighted=False)
                 .coalesce(1), nodes=_graph(spark, False).nodes,
                 is_directed=False)
    before = build(df_from_edges(spark, old, weighted=False).coalesce(1),
                   nodes=full.nodes, is_directed=False)
    prev = triangle_count(before)
    assert prev == 0
    cold = _run_routes(tmp_path, "triangles", full, ["tri_kernel", "join"],
                       lambda d: triangle_count(full, kernel_spill_dir=d))
    assert cold == {"tri_kernel": 2, "join": 2}
    new = spark.createDataFrame(batch, "src long, dst long")
    assert incremental_triangle_count(full, new, prev) == 2


# --------------------------------------------- the one way out: driver_frame

THRESHOLD = "spark.sql.execution.arrow.localRelationThreshold"
ARROW = "spark.sql.execution.arrow.pyspark.enabled"

# op -> (directed graph?, call(graph) -> list of result DataFrames), each
# on its kernel-driver route
DRIVER_OPS = {
    "pagerank": (True, lambda g: [pagerank(g, tolerance=1e-8, maxiter=100)]),
    "katz": (False, lambda g: [katz_centrality(g, fixed_iterations=4)]),
    "eigenvector": (False, lambda g: [eigenvector_centrality(
        g, fixed_iterations=4)]),
    "hits": (True, lambda g: list(hits_centrality(g, fixed_iterations=4))),
    "cc": (False, lambda g: [connected_components(g)]),
    "lpa": (False, lambda g: [label_propagation_community(
        g, fixed_rounds=3)]),
    "hope": (True, lambda g: [hope_katz_train(
        g, embedding_size=4, k_terms=3, power_iters=1)]),
}
FRAME_MODULES = (kernel, kernel_algos, embedding, flow, traversal)


def _spy_driver_frames(monkeypatch):
    """Record ``(columns, schema)`` of every :func:`driver_frame` call
    made by the operator modules."""
    calls = []

    def spy(spark, columns, schema):
        calls.append((columns, schema))
        return graph_mod.driver_frame(spark, columns, schema)

    for mod in FRAME_MODULES:
        monkeypatch.setattr(mod, "driver_frame", spy)
    return calls


def _old_frame(spark, columns, schema):
    """The result as the driver routes built it before ``driver_frame``:
    ``createDataFrame`` of a pandas frame, a 2-D column as float lists."""
    return spark.createDataFrame(pd.DataFrame({
        k: v.tolist() if np.ndim(v) == 2 else np.asarray(v)
        for k, v in columns.items()
    }), schema=schema)


def _leaves(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


@pytest.mark.parametrize("op", sorted(DRIVER_OPS))
def test_driver_results_are_rdd_backed_arrow(spark, two_partitions,
                                             monkeypatch, op):
    """Each driver route's result is an RDD of Arrow batches, not a
    LocalRelation, with the rows, row order and schema of the old pandas
    ``createDataFrame``; the session's ``localRelationThreshold`` is as
    the caller left it, unset or set; without Arrow the rows are equal;
    the empty graph gives an empty result of the same schema."""
    directed, call = DRIVER_OPS[op]
    g = _graph(spark, directed)
    width = {"width": 4} if op == "hope" else {}
    assert routing.plan(op, g, **width)[0] == "kernel-driver"
    frames = _spy_driver_frames(monkeypatch)
    assert spark.conf.get(THRESHOLD, None) is None
    outs = call(g)
    assert spark.conf.get(THRESHOLD, None) is None
    assert len(frames) == len(outs)
    rows = []
    for (columns, schema), out in zip(frames, outs):
        assert "LocalRelation" not in _leaves(out), _leaves(out)
        assert "LogicalRDD" in _leaves(out)
        old = _old_frame(spark, columns, schema)
        assert "LocalRelation" in _leaves(old)
        assert out.schema == old.schema
        rows.append(out.collect())
        assert rows[-1] == old.collect()
        assert {r["id"] for r in rows[-1]} == IDS

    spark.conf.set(THRESHOLD, "1048576")
    try:
        assert [o.collect() for o in call(g)] == rows
        assert spark.conf.get(THRESHOLD) == "1048576"
    finally:
        spark.conf.unset(THRESHOLD)

    spark.conf.set(ARROW, "false")
    try:
        assert [o.collect() for o in call(g)] == rows
    finally:
        spark.conf.set(ARROW, "true")

    empty = build(spark.createDataFrame([], "src long, dst long"),
                  is_directed=directed)
    for got, out in zip(call(empty), outs, strict=True):
        assert got.schema == out.schema
        assert got.count() == 0
    assert spark.conf.get(THRESHOLD, None) is None


@pytest.mark.filterwarnings("ignore:createDataFrame attempted Arrow")
def test_driver_frame_restores_threshold_when_it_raises(spark):
    """A failing conversion leaves the session's threshold as it was."""
    bad = {"id": np.array(["a", "b"])}
    for prev in (None, "2048"):
        if prev is not None:
            spark.conf.set(THRESHOLD, prev)
        try:
            with pytest.raises(TypeError):
                graph_mod.driver_frame(spark, bad, "id long")
            assert spark.conf.get(THRESHOLD, None) == prev
        finally:
            spark.conf.unset(THRESHOLD)


def test_concurrent_driver_frames_restore_threshold(spark):
    """Threads calling ``driver_frame`` at once each get their own rows,
    and the threshold the caller set is what is left."""
    spark.conf.set(THRESHOLD, "4096")
    got, errors = {}, []

    def run(k):
        try:
            for r in range(3):
                ids = np.arange(k * 100 + r, k * 100 + r + 5, dtype=np.int64)
                df = graph_mod.driver_frame(spark, {"id": ids}, "id long")
                got[(k, r)] = ([x["id"] for x in df.collect()], ids.tolist())
        except Exception as e:  # noqa: BLE001 — reported below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=run, args=(k,)) for k in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in threads)
        assert errors == []
        assert len(got) == 24 and all(a == b for a, b in got.values())
        assert spark.conf.get(THRESHOLD) == "4096"
    finally:
        sys.setswitchinterval(interval)
        spark.conf.unset(THRESHOLD)


def test_traversal_and_flow_results_keep_their_rows(spark):
    """``dfs_iter``, ``dfs_tree``, ``astar_search`` and the flow and cut
    graphs of ``max_flow``/``min_cut`` leave through ``driver_frame``
    with the rows and schema they always had."""
    g = build(df_from_edges(spark, [(1, 2, 3.0), (1, 3, 1.0), (3, 2, 1.0),
                                    (2, BIG, 2.0)]))
    assert [tuple(r) for r in traversal.dfs_iter(g, 1).collect()] == [
        (0, 1), (1, 2), (2, BIG), (3, 3)]
    assert traversal.dfs_iter(g, 1).schema.simpleString() == (
        "struct<pos:int,id:bigint>")
    assert sorted(tuple(r) for r in traversal.dfs_tree(g, 1).collect()) == [
        (1, 1), (2, 1), (3, 1), (BIG, 2)]
    path = traversal.astar_search(g, 1, BIG, lambda v: 0.0)
    assert [tuple(r) for r in path.collect()] == [(0, 1), (1, 3), (2, 2),
                                                  (3, BIG)]
    value, fg = flow.max_flow(g, 1, BIG)
    assert value == 2.0
    assert sorted(tuple(r) for r in fg.edges.collect()) == [
        (1, 2, 2.0), (2, BIG, 2.0)]
    value, cg = flow.min_cut(g, 1, BIG)
    assert value == 2.0
    assert [tuple(r) for r in cg.edges.collect()] == [(2, BIG, 2.0)]
    for df in (path, fg.edges, cg.edges):
        assert "LocalRelation" not in _leaves(df)
