"""The route planner (``operators/routing.py``): every remaining route of
each iterative operator agrees on one adversarial graph, and the
benchmark's layer hooks still resolve."""

import glob
import importlib
import math
import os
import tempfile

import pytest

from metagraph_spark.graph import build
from metagraph_spark.operators import kernel, kernel_algos, routing
from metagraph_spark.operators.centrality import katz_centrality
from metagraph_spark.operators.components import connected_components
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
    assert set(a) == set(b)
    for k in a:
        assert math.isclose(a[k], b[k], rel_tol=1e-9, abs_tol=1e-12), k


ROUTES = ["kernel-driver", "kernel-distributed", "join"]
IDS = {-5, 1, 2, 3, 4, 5, 9, BIG}


def _by_id(df, col):
    return {r["id"]: r[col] for r in df.collect()}


def _pagerank(fixed):
    return lambda g, d: _by_id(pagerank(
        g, fixed_iterations=fixed, maxiter=100, tolerance=1e-3,
        kernel_spill_dir=d), "rank")


# op -> (planner op, directed graph?, routes, call(graph, spill_dir),
#        temp layout?) — katz and LPA take the "auto" slice-store route
#        without a spill dir, the others with one
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
    """Exact agreement for CC, LPA and triangles; 1e-9 for pagerank and
    katz."""
    op, directed, routes, call, temp_layout = CASES[case]
    g = _graph(spark, directed)
    out = _run_routes(tmp_path, op, g, routes, lambda d: call(g, d),
                      temp_layout)
    ref = out[routes[-1]]  # the join plan
    if op in ("pagerank", "katz"):
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
