"""CSR/Arrow kernel parity: pagerank_kernel must match the join-based
pagerank and the reference golden values exactly."""

import math

import pytest

from metagraph_spark.graph import build
from metagraph_spark.operators import kernel as K
from metagraph_spark.operators import routing
from metagraph_spark.operators.kernel import build_edge_blocks, pagerank_kernel
from metagraph_spark.operators.pagerank import pagerank
from tests.conftest import df_from_edges, spy_calls

GOLDEN_EDGES = [(0, 1), (0, 2), (2, 0), (1, 2), (3, 2)]
GOLDEN_EXPECTED = {
    0: 0.37252685132844066,
    1: 0.19582391181458728,
    2: 0.3941492368569718,
    3: 0.037500000000000006,
}


def test_kernel_pagerank_golden(spark):
    g = build(df_from_edges(spark, GOLDEN_EDGES, weighted=False), is_directed=True)
    got = {r["id"]: r["rank"] for r in
           pagerank_kernel(g, damping=0.85, maxiter=50, tolerance=1e-7).collect()}
    for node, expected in GOLDEN_EXPECTED.items():
        assert math.isclose(got[node], expected, rel_tol=1e-5), (node, got[node])


@pytest.mark.slow
def test_kernel_matches_join_based(spark):
    # dangling + undirected coverage
    edges = [(0, 1), (1, 2), (2, 0), (0, 4), (3, 5), (2, 3), (7, 7)]
    g = build(df_from_edges(spark, edges, weighted=False), is_directed=True)
    join_based = {r["id"]: r["rank"] for r in
                  pagerank(g, maxiter=100, tolerance=1e-9).collect()}
    kernel = {r["id"]: r["rank"] for r in
              pagerank_kernel(g, maxiter=100, tolerance=1e-9).collect()}
    assert set(join_based) == set(kernel)
    for k in join_based:
        assert math.isclose(join_based[k], kernel[k], rel_tol=1e-9, abs_tol=1e-12)


@pytest.mark.slow
def test_pagerank_auto_strategy_threshold(spark, monkeypatch):
    """strategy='auto' picks the kernel below the planner's caps and the
    join path above them; both sides of the switch produce golden values."""
    g = build(df_from_edges(spark, GOLDEN_EDGES, weighted=False), is_directed=True)
    via_kernel = {r["id"]: r["rank"] for r in
                  pagerank(g, maxiter=50, tolerance=1e-7,
                           strategy="auto").collect()}
    # caps below |E| -> join path
    monkeypatch.setattr(routing, "DRIVER_MAX_EDGES", -1)
    monkeypatch.setattr(routing, "KERNEL_AUTO_MAX_EDGES", -1)
    assert routing.plan("pagerank", g)[0] == "join"
    via_join = {r["id"]: r["rank"] for r in
                pagerank(g, maxiter=50, tolerance=1e-7,
                         strategy="auto").collect()}
    for node, expected in GOLDEN_EXPECTED.items():
        assert math.isclose(via_kernel[node], expected, rel_tol=1e-5)
        assert math.isclose(via_join[node], expected, rel_tol=1e-5)


@pytest.mark.slow
def test_kernel_file_backed_distributed_golden(spark, tmp_path, monkeypatch):
    """File-backed blocks above the driver caps take the slice-store loop
    (rank vector never on the driver) — must still produce the golden
    values and agree with the driver loop over the same block files. A
    4-node graph fits the driver loop, so the cap is lowered below its
    edge count."""
    g = build(df_from_edges(spark, GOLDEN_EDGES, weighted=False), is_directed=True)
    eb = build_edge_blocks(g, num_blocks=2, spill_dir=str(tmp_path / "blocks"))
    # fixed-iteration reference: the driver loop over the block files
    b = {r["id"]: r["rank"] for r in
         pagerank_kernel(eb, fixed_iterations=7).collect()}
    monkeypatch.setattr(routing, "DRIVER_MAX_EDGES", -1)
    ran = spy_calls(monkeypatch, K, "_distributed_superstep_loop")
    got = {r["id"]: r["rank"] for r in
           pagerank_kernel(eb, damping=0.85, maxiter=50, tolerance=1e-7).collect()}
    for node, expected in GOLDEN_EXPECTED.items():
        assert math.isclose(got[node], expected, rel_tol=1e-5), (node, got[node])
    a = {r["id"]: r["rank"] for r in
         pagerank_kernel(eb, fixed_iterations=7).collect()}
    assert len(ran) == 2
    for k in a:
        assert math.isclose(a[k], b[k], rel_tol=1e-12, abs_tol=1e-15)
    eb.unpersist()


@pytest.mark.slow
def test_kernel_blocks_reuse(spark, tmp_path):
    g = build(df_from_edges(spark, GOLDEN_EDGES, weighted=False), is_directed=True)
    eb = build_edge_blocks(g, num_blocks=2, spill_dir=str(tmp_path / "blocks"))
    r1 = {r["id"]: r["rank"] for r in
          pagerank_kernel(eb, maxiter=50, tolerance=1e-7).collect()}
    r2 = {r["id"]: r["rank"] for r in
          pagerank_kernel(eb, maxiter=50, tolerance=1e-7).collect()}
    assert r1 == r2
    eb.unpersist()


def test_block_layouts_need_spill_dir(spark):
    """Block layouts are file-backed only: a call without ``spill_dir``
    fails at once and says what to pass instead."""
    from metagraph_spark.operators.kernel_algos import cc_blocks, label_blocks

    g = build(df_from_edges(spark, GOLDEN_EDGES, weighted=False), is_directed=True)
    for layout in (build_edge_blocks, cc_blocks, label_blocks):
        with pytest.raises(ValueError, match="pass a spill_dir.*or pass the Graph"):
            layout(g)


def test_kernel_size_route_small_file_backed(spark, tmp_path, monkeypatch):
    """A file-backed layout within the driver caps takes the driver loop
    over the mmap'd block files (slice-store fixed costs dominate at toy
    scale); goldens must still hold."""
    def boom(*a, **kw):  # pragma: no cover - failure path
        raise AssertionError("distributed loop entered below the size route")

    monkeypatch.setattr(K, "_distributed_superstep_loop", boom)
    loaded = spy_calls(monkeypatch, K, "driver_block_arrays")
    g = build(df_from_edges(spark, GOLDEN_EDGES, weighted=False), is_directed=True)
    eb = build_edge_blocks(g, num_blocks=2, spill_dir=str(tmp_path / "blocks"))
    got = {r["id"]: r["rank"] for r in
           pagerank_kernel(eb, damping=0.85, maxiter=50, tolerance=1e-7).collect()}
    for node, expected in GOLDEN_EXPECTED.items():
        assert math.isclose(got[node], expected, rel_tol=1e-5)
    assert len(loaded) == 1  # the driver loop read the block files
    eb.unpersist()


@pytest.mark.slow
def test_kernel_injected_slice_store_parity(spark, tmp_path):
    """A slice store supplied by the caller drives the distributed loop and
    matches the driver loop over the same block files at fixed
    iterations."""
    from metagraph_spark.operators.kernel import LocalSliceStore

    g = build(df_from_edges(spark, GOLDEN_EDGES, weighted=False), is_directed=True)
    eb = build_edge_blocks(g, num_blocks=2, spill_dir=str(tmp_path / "blocks"))
    store = LocalSliceStore(str(tmp_path / "custom_store"))
    a = {r["id"]: r["rank"] for r in
         pagerank_kernel(eb, fixed_iterations=7, slice_store=store).collect()}
    b = {r["id"]: r["rank"] for r in
         pagerank_kernel(eb, fixed_iterations=7).collect()}
    for k in a:
        assert math.isclose(a[k], b[k], rel_tol=1e-12, abs_tol=1e-15)
    import os
    assert not os.path.exists(str(tmp_path / "custom_store"))  # cleaned up
    eb.unpersist()


@pytest.mark.slow
def test_slice_store_dir_reuse_no_stale_cache(spark, tmp_path):
    """Two runs pointing at the SAME slice-store directory must not serve
    each other's cached aux arrays through reused Python workers (the
    process-global cache is scoped per store instance)."""
    from metagraph_spark.operators.kernel import LocalSliceStore

    g1 = build(df_from_edges(spark, GOLDEN_EDGES, weighted=False), is_directed=True)
    edges2 = [(0, 1), (1, 0), (2, 3), (3, 0), (1, 3)]
    g2 = build(df_from_edges(spark, edges2, weighted=False), is_directed=True)
    d = str(tmp_path / "shared_store")
    eb1 = build_edge_blocks(g1, num_blocks=2, spill_dir=str(tmp_path / "b1"))
    eb2 = build_edge_blocks(g2, num_blocks=2, spill_dir=str(tmp_path / "b2"))
    pagerank_kernel(eb1, fixed_iterations=5, slice_store=LocalSliceStore(d))
    got = {r["id"]: r["rank"] for r in
           pagerank_kernel(eb2, fixed_iterations=5,
                           slice_store=LocalSliceStore(d)).collect()}
    ref = {r["id"]: r["rank"] for r in
           pagerank_kernel(eb2, fixed_iterations=5).collect()}
    for k in ref:
        assert math.isclose(got[k], ref[k], rel_tol=1e-12, abs_tol=1e-15), k
    eb1.unpersist()
    eb2.unpersist()


def test_scale_layout_no_driver_arrays(spark, tmp_path, monkeypatch):
    """The file-backed layout must keep driver state O(num_blocks): no
    sorted-id or degree array is ever collected (VERDICT r3 #5). The lazy
    ``_node_ids``/``_out_deg`` slots must stay None through layout AND a
    full pagerank run; the id/degree/inverse-degree vectors live as files
    written slice-wise by tasks, and the layout metadata carries the
    dangling count so the superstep loop needs no degree scan."""
    import json
    import os

    import numpy as np

    # force past the small-graph driver loop, which holds dense driver
    # vectors BY DESIGN below its edge cap — this test pins the
    # slice-store mode's O(num_blocks) driver-state property
    monkeypatch.setattr(routing, "DRIVER_MAX_EDGES", -1)

    # golden graph + an isolated node (exercises the no-edges degree range)
    g = build(df_from_edges(spark, GOLDEN_EDGES, weighted=False), is_directed=True)
    sd = str(tmp_path / "scale_blocks")
    eb = build_edge_blocks(g, num_blocks=2, spill_dir=sd)
    assert eb._node_ids is None and eb._out_deg is None
    assert eb.n == 4 and eb.n_dangling == 0  # every golden node has out-edges
    got = {r["id"]: r["rank"] for r in
           pagerank_kernel(eb, damping=0.85, maxiter=50, tolerance=1e-7).collect()}
    # the whole run must not have materialized driver arrays either
    assert eb._node_ids is None and eb._out_deg is None
    for node, expected in GOLDEN_EXPECTED.items():
        assert math.isclose(got[node], expected, rel_tol=1e-5), (node, got[node])
    # files + metadata written by tasks
    ids = np.load(os.path.join(sd, "node_ids.npy"))
    assert list(ids) == [0, 1, 2, 3]
    deg = np.load(os.path.join(sd, "out_deg.npy"))
    assert list(deg) == [2.0, 1.0, 1.0, 1.0]
    inv = np.load(os.path.join(sd, "inv_deg.npy"))
    assert list(inv) == [0.5, 1.0, 1.0, 1.0]
    with open(os.path.join(sd, "meta.json")) as f:
        meta = json.load(f)
    assert meta["n"] == 4 and meta["n_dangling"] == 0
    eb.unpersist()


def test_scale_layout_dangling_and_isolates(spark, tmp_path, monkeypatch):
    """Dangling vertices (no out-edges) and ranges with no sources must
    land as zero degree / zero inverse in the task-written files, and the
    metadata dangling count must drive the slice-store loop to the same
    teleport mass as the driver loop over the same block files."""
    edges = [(0, 1), (1, 2), (3, 2)]  # 2 is dangling; node 4 isolated
    nodes = spark.createDataFrame([(i,) for i in range(5)], "id long")
    from metagraph_spark.graph import build as gbuild

    g = gbuild(df_from_edges(spark, edges, weighted=False), nodes=nodes)
    sd = str(tmp_path / "blocks2")
    eb = build_edge_blocks(g, num_blocks=3, spill_dir=sd)
    assert eb.n == 5 and eb.n_dangling == 2  # nodes 2 and 4
    b = {r["id"]: r["rank"] for r in
         pagerank_kernel(eb, fixed_iterations=6).collect()}
    monkeypatch.setattr(routing, "DRIVER_MAX_EDGES", -1)
    ran = spy_calls(monkeypatch, K, "_distributed_superstep_loop")
    a = {r["id"]: r["rank"] for r in
         pagerank_kernel(eb, fixed_iterations=6).collect()}
    assert len(ran) == 1
    assert set(a) == set(b) == set(range(5))
    for k in a:
        assert math.isclose(a[k], b[k], rel_tol=1e-12, abs_tol=1e-15), (k, a[k], b[k])
    eb.unpersist()


def test_kernel_slice_store_resume(spark, tmp_path, monkeypatch):
    """Distributed-loop durability: a run whose slice store survives must
    resume from the newest COMMITTED iteration (half-written vectors are
    never resumed from — only the driver's post-validation marker counts)
    and finish bit-identical to an uninterrupted run."""
    from metagraph_spark.operators.kernel import LocalSliceStore

    # keep every run's files: cleanup() only ever runs on the driver, so
    # the class-level no-op never reaches workers
    monkeypatch.setattr(LocalSliceStore, "cleanup", lambda self: None)

    g = build(df_from_edges(spark, GOLDEN_EDGES, weighted=False), is_directed=True)
    eb = build_edge_blocks(g, num_blocks=2, spill_dir=str(tmp_path / "blocks"))
    d = str(tmp_path / "store")

    # "crashed" run: 3 committed iterations, files left behind
    pagerank_kernel(eb, fixed_iterations=3, slice_store=LocalSliceStore(d))
    probe = LocalSliceStore(d)
    assert probe.latest_complete() == 2
    # a half-written vector (preallocated, never committed) must not count
    probe.create_vector(3, eb.n)
    assert probe.latest_complete() == 2

    m: list = []
    resumed = {r["id"]: r["rank"] for r in pagerank_kernel(
        eb, fixed_iterations=7, slice_store=LocalSliceStore(d),
        resume=True, metrics_sink=m).collect()}
    assert [x["iteration"] for x in m] == [3, 4, 5, 6]  # only the NEW work
    full = {r["id"]: r["rank"] for r in pagerank_kernel(
        eb, fixed_iterations=7,
        slice_store=LocalSliceStore(str(tmp_path / "fresh"))).collect()}
    assert resumed == full  # bit-exact: same update rule, same fp order

    # stale directory from a DIFFERENT run fails loudly
    bad = LocalSliceStore(d)
    bad.put_meta({"n": 999, "damping": 0.85})
    with pytest.raises(ValueError, match="different"):
        pagerank_kernel(eb, fixed_iterations=9,
                        slice_store=LocalSliceStore(d), resume=True)
    # and resume without an injected store is refused up front
    with pytest.raises(ValueError, match="resume"):
        pagerank_kernel(eb, fixed_iterations=2, resume=True)
    eb.unpersist()


@pytest.mark.parametrize("op", ["pagerank", "katz", "cc", "lpa"])
def test_slice_store_lost_slice_removes_run(spark, tmp_path, monkeypatch, op):
    """A superstep whose tasks do not report every dst range raises "lost a
    slice", and the run's store is removed first, on each slice-store
    loop. The lost range is a phantom one added to ``slice_ranges``."""
    from metagraph_spark.operators.kernel import LocalSliceStore
    from metagraph_spark.operators.kernel_algos import (
        cc_kernel,
        katz_kernel,
        lpa_kernel,
    )

    g = build(df_from_edges(spark, GOLDEN_EDGES, weighted=False), is_directed=True)
    spill = tmp_path / "blocks"
    eb = build_edge_blocks(g, num_blocks=2, spill_dir=str(spill))
    run = {
        "pagerank": lambda: pagerank_kernel(eb, fixed_iterations=3),
        "katz": lambda: katz_kernel(eb, fixed_iterations=3),
        "cc": lambda: cc_kernel(eb, fixed_rounds=3),
        "lpa": lambda: lpa_kernel(eb, fixed_rounds=3),
    }[op]
    monkeypatch.setattr(routing, "DRIVER_MAX_EDGES", -1)
    ranges = K.slice_ranges
    monkeypatch.setattr(K, "slice_ranges",
                        lambda blocks: {**ranges(blocks), blocks.n: blocks.n + 1})
    removed = []
    cleanup = LocalSliceStore.cleanup

    def record(store):
        removed.append(store.run_dir)
        cleanup(store)

    monkeypatch.setattr(LocalSliceStore, "cleanup", record)
    with pytest.raises(RuntimeError, match="lost a slice"):
        run()
    assert len(removed) == 1
    assert removed[0].startswith(str(spill))
    assert [p.name for p in spill.iterdir() if p.is_dir()] == []
    eb.unpersist()


def test_object_slice_store_resume(spark, tmp_path, monkeypatch):
    """The same resume protocol over PURE object-store semantics: the
    commit marker is an atomic whole-object PUT outside the vec/ prefix."""
    from metagraph_spark.operators.slice_stores import ObjectSliceStore

    monkeypatch.setattr(ObjectSliceStore, "cleanup", lambda self: None)
    g = build(df_from_edges(spark, GOLDEN_EDGES, weighted=False), is_directed=True)
    eb = build_edge_blocks(g, num_blocks=2, spill_dir=str(tmp_path / "blocks"))
    d = str(tmp_path / "bucket")
    pagerank_kernel(eb, fixed_iterations=3, slice_store=ObjectSliceStore(d))
    assert ObjectSliceStore(d).latest_complete() == 2
    m: list = []
    resumed = {r["id"]: r["rank"] for r in pagerank_kernel(
        eb, fixed_iterations=6, slice_store=ObjectSliceStore(d),
        resume=True, metrics_sink=m).collect()}
    assert [x["iteration"] for x in m] == [3, 4, 5]
    full = {r["id"]: r["rank"] for r in pagerank_kernel(
        eb, fixed_iterations=6,
        slice_store=ObjectSliceStore(str(tmp_path / "b2"))).collect()}
    assert resumed == full
    eb.unpersist()
