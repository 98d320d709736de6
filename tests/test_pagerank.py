"""PageRank parity tests.

Golden fixture ported from the reference test suite:
/root/reference/metagraph/tests/algorithms/test_centrality.py:146-189
(4-node digraph, damping 0.85, expected per-node scores at rel_tol 1e-5,
plus the maxiter → ConvergenceError contract).

Oracle for larger graphs: a pure-numpy power iteration implementing the same
networkx-semantics update (dangling mass redistributed uniformly), standing
in for the reference's MultiVerify consensus (core/multiverify.py:113-140).
"""

import math

import numpy as np
import pytest

from metagraph_spark import ConvergenceError
from metagraph_spark.graph import build
from metagraph_spark.operators.pagerank import pagerank
from tests.conftest import df_from_edges

GOLDEN_EDGES = [(0, 1), (0, 2), (2, 0), (1, 2), (3, 2)]
GOLDEN_EXPECTED = {
    0: 0.37252685132844066,
    1: 0.19582391181458728,
    2: 0.3941492368569718,
    3: 0.037500000000000006,
}


def numpy_pagerank(edges, n, damping=0.85, maxiter=100, tol=1e-7):
    """networkx-semantics oracle: unweighted, uniform dangling teleport,
    L1 convergence at N*tol."""
    out = np.zeros(n)
    for s, d in edges:
        out[s] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(maxiter):
        new = np.full(n, (1 - damping) / n)
        dangle = r[out == 0].sum()
        new += damping * dangle / n
        for s, d in edges:
            new[d] += damping * r[s] / out[s]
        if np.abs(new - r).sum() < n * tol:
            return new
        r = new
    raise RuntimeError("oracle did not converge")


def test_pagerank_golden(spark):
    g = build(df_from_edges(spark, GOLDEN_EDGES, weighted=False), is_directed=True)
    result = pagerank(g, damping=0.85, maxiter=50, tolerance=1e-7)
    got = {row["id"]: row["rank"] for row in result.collect()}
    assert set(got) == set(GOLDEN_EXPECTED)
    for node, expected in GOLDEN_EXPECTED.items():
        assert math.isclose(got[node], expected, rel_tol=1e-5), (node, got[node])


@pytest.mark.slow
def test_pagerank_convergence_error(spark):
    g = build(df_from_edges(spark, GOLDEN_EDGES, weighted=False), is_directed=True)
    with pytest.raises(ConvergenceError):
        pagerank(g, damping=0.85, maxiter=2, tolerance=1e-12)


@pytest.mark.slow
def test_pagerank_dangling_oracle(spark):
    # graph with dangling vertices (nodes 4, 5 have no out-edges)
    edges = [(0, 1), (1, 2), (2, 0), (0, 4), (3, 5), (2, 3)]
    n = 6
    g = build(df_from_edges(spark, edges, weighted=False), is_directed=True)
    result = pagerank(g, damping=0.85, maxiter=200, tolerance=1e-9)
    got = {row["id"]: row["rank"] for row in result.collect()}
    expected = numpy_pagerank(edges, n, maxiter=500, tol=1e-9)
    for i in range(n):
        assert math.isclose(got[i], expected[i], rel_tol=1e-6), (i, got[i], expected[i])
    assert math.isclose(sum(got.values()), 1.0, rel_tol=1e-9)


@pytest.mark.slow
def test_pagerank_undirected_symmetrization(spark):
    edges = [(0, 1), (1, 2), (2, 3)]
    g = build(df_from_edges(spark, edges, weighted=False), is_directed=False)
    result = pagerank(g, maxiter=200, tolerance=1e-9)
    got = {row["id"]: row["rank"] for row in result.collect()}
    sym = edges + [(d, s) for s, d in edges]
    expected = numpy_pagerank(sym, 4, maxiter=500, tol=1e-9)
    for i in range(4):
        assert math.isclose(got[i], expected[i], rel_tol=1e-6)
    # symmetric structure: endpoints equal, middles equal
    assert math.isclose(got[0], got[3], rel_tol=1e-6)
    assert math.isclose(got[1], got[2], rel_tol=1e-6)


def test_kernel_strategy_rejects_checkpointer(spark, tmp_path):
    import pytest

    from metagraph_spark.state import CheckpointManager

    g = build(df_from_edges(spark, GOLDEN_EDGES, weighted=False), is_directed=True)
    ck = CheckpointManager(root=str(tmp_path / "ck"), run_id="k1")
    with pytest.raises(ValueError, match="checkpointer"):
        pagerank(g, strategy="kernel", checkpointer=ck)


def test_pagerank_fixed_iterations_fast(spark):
    """Fast default-suite sanity (the converged goldens are `slow`): 4 fixed
    supersteps on the reference golden digraph vs the numpy oracle unrolled
    the same 4 steps."""
    g = build(df_from_edges(spark, GOLDEN_EDGES, weighted=False))
    got = {
        r["id"]: r["rank"]
        for r in pagerank(g, fixed_iterations=4).collect()
    }
    n = 4
    out = np.zeros(n)
    for s, d in GOLDEN_EDGES:
        out[s] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(4):
        new = np.full(n, 0.15 / n)
        dangling = r[out == 0].sum()
        new += 0.85 * dangling / n
        for s, d in GOLDEN_EDGES:
            new[d] += 0.85 * r[s] / out[s]
        r = new
    for i in range(n):
        assert math.isclose(got[i], r[i], rel_tol=1e-9), (i, got[i], r[i])


def test_pagerank_kernel_spill_dir_route(spark, tmp_path, monkeypatch):
    """`kernel_spill_dir` routes auto/kernel through the file-backed layout
    (no driver-vector cap) and must match the join path exactly."""
    g = build(df_from_edges(spark, GOLDEN_EDGES, weighted=False))
    a = {r["id"]: r["rank"] for r in pagerank(
        g, fixed_iterations=5, strategy="kernel",
        kernel_spill_dir=str(tmp_path / "kb")).collect()}
    b = {r["id"]: r["rank"] for r in pagerank(g, fixed_iterations=5).collect()}
    for k in a:
        assert math.isclose(a[k], b[k], rel_tol=1e-12, abs_tol=1e-15)
    # auto + spill dir must take the file-backed kernel even past the
    # planner's driver and auto caps
    from metagraph_spark.operators import routing

    monkeypatch.setattr(routing, "DRIVER_MAX_EDGES", -1)
    monkeypatch.setattr(routing, "KERNEL_AUTO_MAX_EDGES", -1)
    kb2 = str(tmp_path / "kb2")
    assert routing.plan("pagerank", g, spill_dir=kb2)[0] == "kernel-distributed"
    c = {r["id"]: r["rank"] for r in pagerank(
        g, fixed_iterations=5, strategy="auto", kernel_spill_dir=kb2).collect()}
    for k in a:
        assert math.isclose(c[k], a[k], rel_tol=1e-12, abs_tol=1e-15)


def test_superstep_no_state_side_exchange(spark):
    """VERDICT r3 #6: with partition_by_src edges and the
    partitioning-stamped state leaf (truncate_lineage_partitioned), a
    pagerank superstep plan must contain NO state-side Exchange — the only
    exchange left is the unavoidable |E|-row gather aggregation on dst."""
    from pyspark.sql import functions as F

    from metagraph_spark.state import truncate_lineage_partitioned

    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        g = build(df_from_edges(spark, GOLDEN_EDGES, weighted=False))
        gp = g.partition_by_src(n_part)
        gp.edges.count()
        state = spark.createDataFrame(
            [(i, 0.25, 2.0, False) for i in range(4)],
            "id long, rank double, outdeg double, dangling boolean",
        ).repartition(n_part, "id")
        state = truncate_lineage_partitioned(state, ["id"], n_part)
        # the operator's superstep shape (operators/pagerank.py loop body)
        contrib = state.filter(~F.col("dangling")).select(
            F.col("id").alias("src"), (F.col("rank") / F.col("outdeg")).alias("c")
        )
        gather = (
            gp.edges.join(contrib.hint("shuffle_hash"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("c").alias("g"))
        )
        new_state = (
            state.select("id", "outdeg", "dangling", F.col("rank").alias("prev"))
            .join(gather.hint("shuffle_hash"), "id", "left")
            .select(
                "id", "outdeg", "dangling",
                (F.lit(0.85) * F.coalesce("g", F.lit(0.0)) + F.lit(0.0375))
                .alias("rank"),
                "prev",
            )
        )
        plan = new_state._jdf.queryExecution().executedPlan().toString()
        # top-level exchange lines (the edges cache's embedded REPARTITION
        # exchange inside InMemoryRelation is the one-time layout, not a
        # per-superstep cost)
        top = [
            ln for ln in plan.splitlines()
            if "+- Exchange" in ln and "REPARTITION" not in ln
        ]
        assert len(top) == 1, plan
        assert "hashpartitioning(dst" in top[0], plan
        assert "Exchange hashpartitioning(id" not in plan, plan
        # the co-partitioned joins must hash-build the |V| side, never
        # re-sort the |E|-row edge cache per superstep
        assert "ShuffledHashJoin" in plan, plan
        assert "SortMergeJoin" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)


def test_incremental_pagerank_warm_start_fewer_supersteps(spark):
    """Warm-starting from the pre-append fixpoint must (a) converge to the
    cold run's ranks on the appended graph and (b) take fewer supersteps
    than the cold run — the streaming-maintenance contract."""
    from metagraph_spark.operators.pagerank import incremental_pagerank

    # hub topology: uniform (the cold seed) is FAR from the fixpoint, so
    # the saved-superstep contract is observable; ring keeps it strongly
    # connected. Appending one leaf-to-leaf edge + one new node is a
    # small perturbation — the warm seed starts near the new fixpoint.
    n0 = 40
    base = [(i, (i + 1) % n0) for i in range(n0)] + [
        (i, 0) for i in range(1, n0)
    ]
    g0 = build(df_from_edges(spark, base, weighted=False), is_directed=True)
    prev = pagerank(g0, tolerance=1e-9, maxiter=300, strategy="join")

    appended = base + [(7, 23), (40, 0), (3, 40)]  # new node 40 + new edges
    g1 = build(df_from_edges(spark, appended, weighted=False), is_directed=True)
    cold_m, warm_m = [], []
    cold = {r["id"]: r["rank"] for r in pagerank(
        g1, tolerance=1e-9, maxiter=200, strategy="join",
        metrics_sink=cold_m).collect()}
    warm = {r["id"]: r["rank"] for r in incremental_pagerank(
        g1, prev, tolerance=1e-9, maxiter=200,
        metrics_sink=warm_m).collect()}
    assert set(warm) == set(cold) == set(range(41))
    for k in cold:
        assert math.isclose(warm[k], cold[k], rel_tol=1e-6, abs_tol=1e-8), (
            k, warm[k], cold[k])
    assert len(warm_m) < len(cold_m), (len(warm_m), len(cold_m))
    # mass conserved (the seed renormalization contract)
    assert math.isclose(sum(warm.values()), 1.0, rel_tol=1e-9)


def test_incremental_pagerank_self_warm_start_is_immediate(spark):
    """Seeding with the SAME graph's converged ranks must settle in one
    superstep (the L1 step from an eps-accurate fixpoint is < N*tol)."""
    from metagraph_spark.operators.pagerank import incremental_pagerank

    g = build(df_from_edges(spark, GOLDEN_EDGES, weighted=False), is_directed=True)
    prev = pagerank(g, tolerance=1e-12, maxiter=300, strategy="join")
    m: list = []
    again = {r["id"]: r["rank"] for r in incremental_pagerank(
        g, prev, tolerance=1e-9, maxiter=50, metrics_sink=m).collect()}
    assert len(m) == 1, m
    got = {r["id"]: r["rank"] for r in prev.collect()}
    for k in got:
        assert math.isclose(again[k], got[k], rel_tol=1e-8)


def test_pagerank_warm_start_rejects_kernel_and_zero_mass(spark):
    from metagraph_spark.operators.pagerank import incremental_pagerank

    g = build(df_from_edges(spark, GOLDEN_EDGES, weighted=False), is_directed=True)
    # all four golden nodes at 0.0 — nodes ABSENT from the warm vector
    # seed at 1/n, so partial coverage alone can never zero the mass
    zero = spark.createDataFrame(
        [(i, 0.0) for i in range(4)], "id long, rank double")
    with pytest.raises(ValueError, match="positive total mass"):
        incremental_pagerank(g, zero)
    some = spark.createDataFrame([(0, 1.0)], "id long, rank double")
    with pytest.raises(ValueError, match="warm_start"):
        pagerank(g, strategy="kernel", warm_start=some)
