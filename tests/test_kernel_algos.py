"""CSR/Arrow kernel parity for katz / connected components / LPA:
kernel_algos.* must match the join-based operators exactly (integer labels)
or to float tolerance (katz), and the strategy switches must route."""

import math
import random

import pytest

from metagraph_spark.graph import build
from metagraph_spark.operators.centrality import katz_centrality
from metagraph_spark.operators.components import connected_components
from metagraph_spark.operators.kernel import build_edge_blocks
from metagraph_spark.operators.kernel_algos import (
    cc_kernel,
    katz_kernel,
    lpa_kernel,
)
from metagraph_spark.operators import kernel_algos as KA
from metagraph_spark.operators import routing
from metagraph_spark.operators.lpa import label_propagation_community
from tests.conftest import df_from_edges, spy_calls

KATZ_GOLDEN_EDGES = [
    (0, 1, 1), (0, 2, 1), (2, 0, 1), (1, 2, 1),
    (1, 5, 1), (3, 2, 1), (3, 4, 1), (5, 4, 1),
]
KATZ_GOLDEN = {
    0: 0.4069549895218489, 1: 0.40687482321632046, 2: 0.41497162410274485,
    3: 0.40280527348222406, 4: 0.410902066312543, 5: 0.4068740216338262,
}


def _random_edges(n_nodes, n_edges, seed, weighted=True):
    rng = random.Random(seed)
    out = []
    for _ in range(n_edges):
        s, d = rng.randrange(n_nodes), rng.randrange(n_nodes)
        if weighted:
            out.append((s, d, float(rng.randint(1, 5))))
        else:
            out.append((s, d))
    return out


def _map(df, col):
    return {r["id"]: r[col] for r in df.collect()}


def _force_join(monkeypatch):
    """Caps below every graph here: "auto" plans the join route."""
    monkeypatch.setattr(routing, "DRIVER_MAX_EDGES", -1)
    monkeypatch.setattr(routing, "KERNEL_AUTO_MAX_EDGES", -1)


def test_katz_kernel_golden(spark):
    g = build(df_from_edges(spark, KATZ_GOLDEN_EDGES), is_directed=True)
    got = _map(katz_kernel(g, tolerance=1e-7), "katz")
    assert set(got) == set(KATZ_GOLDEN)
    for k, v in KATZ_GOLDEN.items():
        assert math.isclose(got[k], v, rel_tol=1e-5), (k, got[k])


def test_katz_kernel_matches_join_weighted(spark):
    edges = _random_edges(40, 200, seed=7)
    g = build(df_from_edges(spark, edges), is_directed=False)
    join = _map(
        katz_centrality(g, attenuation_factor=0.005, fixed_iterations=6,
                        strategy="join"),
        "katz",
    )
    kern = _map(
        katz_kernel(g, attenuation_factor=0.005, fixed_iterations=6), "katz"
    )
    assert set(join) == set(kern)
    for k in join:
        assert math.isclose(join[k], kern[k], rel_tol=1e-9, abs_tol=1e-12)


@pytest.mark.slow
def test_katz_kernel_file_backed_weighted(spark, tmp_path):
    """File-backed weighted blocks (.ws.npy) agree with in-memory blocks."""
    edges = _random_edges(30, 120, seed=11)
    g = build(df_from_edges(spark, edges), is_directed=True)
    eb_mem = build_edge_blocks(g, num_blocks=3, with_weights=True)
    eb_file = build_edge_blocks(
        g, num_blocks=3, spill_dir=str(tmp_path / "wblocks"), with_weights=True
    )
    mem = _map(katz_kernel(eb_mem, fixed_iterations=5), "katz")
    fil = _map(katz_kernel(eb_file, fixed_iterations=5), "katz")
    assert set(mem) == set(fil)
    for k in mem:
        assert math.isclose(mem[k], fil[k], rel_tol=1e-12, abs_tol=1e-15)
    eb_mem.unpersist()
    eb_file.unpersist()


def test_katz_kernel_spill_dir_converged_golden(spark, tmp_path):
    """katz_centrality(kernel_spill_dir=...) routes through the distributed
    slice-store loop (vector never on the driver) and still hits the
    reference golden values at convergence."""
    g = build(df_from_edges(spark, KATZ_GOLDEN_EDGES), is_directed=True)
    got = _map(
        katz_centrality(
            g,
            tolerance=1e-7,
            strategy="kernel",
            kernel_spill_dir=str(tmp_path / "kblocks"),
        ),
        "katz",
    )
    for k, v in KATZ_GOLDEN.items():
        assert math.isclose(got[k], v, rel_tol=1e-5), (k, got[k])


def test_katz_auto_strategy_threshold(spark, monkeypatch):
    g = build(df_from_edges(spark, KATZ_GOLDEN_EDGES), is_directed=True)
    via_kernel = _map(
        katz_centrality(g, tolerance=1e-7, strategy="auto"), "katz"
    )
    _force_join(monkeypatch)
    assert routing.plan("katz", g)[0] == "join"
    via_join = _map(
        katz_centrality(g, tolerance=1e-7, strategy="auto"), "katz"
    )
    for k, v in KATZ_GOLDEN.items():
        assert math.isclose(via_kernel[k], v, rel_tol=1e-5)
        assert math.isclose(via_join[k], v, rel_tol=1e-5)


def test_eigenvector_kernel_matches_join(spark):
    from metagraph_spark.operators.centrality import eigenvector_centrality
    from metagraph_spark.operators.kernel_algos import eigenvector_kernel

    edges = _random_edges(30, 140, seed=5)
    g = build(df_from_edges(spark, edges), is_directed=False)
    join = _map(eigenvector_centrality(g, tolerance=1e-7, strategy="join"),
                "eigenvector")
    kern = _map(eigenvector_kernel(g, tolerance=1e-7), "eigenvector")
    assert set(join) == set(kern)
    for k in join:
        assert math.isclose(join[k], kern[k], rel_tol=1e-6, abs_tol=1e-9), k
    # fixed-iteration parity (exact superstep schedule)
    jf = _map(eigenvector_centrality(g, fixed_iterations=4, strategy="join"),
              "eigenvector")
    kf = _map(eigenvector_kernel(g, fixed_iterations=4), "eigenvector")
    for k in jf:
        assert math.isclose(jf[k], kf[k], rel_tol=1e-9, abs_tol=1e-12), k


def test_hits_kernel_matches_join(spark):
    from metagraph_spark.operators.centrality import hits_centrality
    from metagraph_spark.operators.kernel_algos import hits_kernel

    edges = _random_edges(25, 100, seed=9)
    g = build(df_from_edges(spark, edges), is_directed=True)
    jh, ja = hits_centrality(g, tolerance=1e-7, strategy="join")
    kh, ka = hits_kernel(g, tolerance=1e-7)
    for jd, kd, col in ((jh, kh, "hubs"), (ja, ka, "authority")):
        jm, km = _map(jd, col), _map(kd, col)
        assert set(jm) == set(km)
        for k in jm:
            assert math.isclose(jm[k], km[k], rel_tol=1e-6, abs_tol=1e-9), (
                col, k,
            )
    # strategy routing smoke: auto below cap = kernel result
    assert routing.plan("hits", g)[0] == "kernel-broadcast"
    vh, _va = hits_centrality(g, tolerance=1e-7, strategy="auto")
    vm = _map(vh, "hubs")
    km = _map(kh, "hubs")
    for k in km:
        assert math.isclose(vm[k], km[k], rel_tol=1e-9, abs_tol=1e-12)


def test_cc_kernel_matches_join_converged(spark):
    # three components incl a self-loop node and a 2-cycle
    edges = [(0, 1), (1, 2), (2, 0), (3, 4), (5, 5), (6, 7), (7, 6), (8, 1)]
    g = build(df_from_edges(spark, edges, weighted=False), is_directed=True)
    join = _map(connected_components(g, strategy="join"), "label")
    kern = _map(cc_kernel(g), "label")
    assert join == kern


def test_cc_kernel_long_chain_pointer_jumping(spark):
    # 80-node chain: pure hash-min needs 80 rounds; pointer jumping must
    # finish well inside max_rounds=20
    edges = [(i, i + 1) for i in range(80)]
    g = build(df_from_edges(spark, edges, weighted=False), is_directed=False)
    kern = _map(cc_kernel(g, max_rounds=20), "label")
    assert set(kern.values()) == {0}


@pytest.mark.slow
def test_cc_kernel_fixed_rounds_pure_hashmin_parity(spark):
    edges = _random_edges(50, 120, seed=3, weighted=False)
    g = build(df_from_edges(spark, edges, weighted=False), is_directed=True)
    for k in (1, 2, 4):
        join = _map(
            connected_components(g, fixed_rounds=k, strategy="join"), "label"
        )
        kern = _map(cc_kernel(g, fixed_rounds=k), "label")
        assert join == kern, f"fixed_rounds={k}"


def test_cc_strategy_routing(spark, monkeypatch):
    edges = [(0, 1), (2, 3)]
    g = build(df_from_edges(spark, edges, weighted=False), is_directed=False)
    via_kernel = _map(connected_components(g, strategy="auto"), "label")
    with monkeypatch.context() as mp:
        _force_join(mp)
        assert routing.plan("cc", g)[0] == "hash-min"
        via_join = _map(connected_components(g, strategy="auto"), "label")
    assert via_kernel == via_join == {0: 0, 1: 0, 2: 2, 3: 2}
    from metagraph_spark.state import CheckpointManager

    with pytest.raises(ValueError):
        connected_components(
            g,
            strategy="kernel",
            checkpointer=CheckpointManager("/tmp/nonexistent_ckpt_dir_cc", "r"),
        )


@pytest.mark.slow
def test_cc_distributed_loop_parity(spark, tmp_path, monkeypatch):
    """File-backed blocks above the driver caps route to the slice-store
    CC loop (labels never on the driver, one pointer-doubling job per
    round) — exact labels on a multi-component graph, a long chain, and
    the fixed-round oracle path."""
    edges = _random_edges(60, 150, seed=29, weighted=False) + [(70, 71)]
    g = build(df_from_edges(spark, edges, weighted=False), is_directed=True)
    want = _map(connected_components(g, strategy="join"), "label")
    want_fixed = {
        k: _map(connected_components(g, fixed_rounds=k, strategy="join"),
                "label")
        for k in (1, 3)
    }
    monkeypatch.setattr(routing, "DRIVER_MAX_EDGES", -1)
    ran = spy_calls(monkeypatch, KA, "_distributed_cc_loop")
    got = _map(
        cc_kernel(
            g, spill_dir=str(tmp_path / "dcc")
        ),
        "label",
    )
    assert want == got
    chain = [(i, i + 1) for i in range(60)]
    gc = build(df_from_edges(spark, chain, weighted=False), is_directed=False)
    got_c = _map(
        cc_kernel(
            gc, spill_dir=str(tmp_path / "dchain"),
            max_rounds=20,
        ),
        "label",
    )
    assert set(got_c.values()) == {0}
    for k, want_f in want_fixed.items():
        got_f = _map(
            cc_kernel(
                g, spill_dir=str(tmp_path / f"dfix{k}"),
                fixed_rounds=k,
            ),
            "label",
        )
        assert want_f == got_f, f"fixed_rounds={k}"
    assert len(ran) == 4


def test_lpa_distributed_loop_parity(spark, tmp_path, monkeypatch):
    """File-backed blocks above the driver caps route to the slice-store
    LPA loop — exact labels vs the join path on converged and fixed-round
    runs."""
    edges = _random_edges(40, 110, seed=31, weighted=False)
    g = build(df_from_edges(spark, edges, weighted=False), is_directed=False)
    want = _map(
        label_propagation_community(g, max_rounds=30, strategy="join"), "label"
    )
    want_f = _map(
        label_propagation_community(g, fixed_rounds=2, strategy="join"),
        "label",
    )
    monkeypatch.setattr(routing, "DRIVER_MAX_EDGES", -1)
    ran = spy_calls(monkeypatch, KA, "_distributed_lpa_loop")
    got = _map(
        lpa_kernel(
            g, max_rounds=30, spill_dir=str(tmp_path / "dlpa"),
        ),
        "label",
    )
    assert want == got
    got_f = _map(
        lpa_kernel(
            g, fixed_rounds=2, spill_dir=str(tmp_path / "dlpaf"),
        ),
        "label",
    )
    assert want_f == got_f
    assert len(ran) == 2


def test_cc_lpa_kernel_file_backed_parity(spark, tmp_path):
    """spill_dir (file-backed blocks read back by the driver loop)
    produces exactly the in-memory kernel's labels for both CC and LPA."""
    edges = _random_edges(40, 120, seed=17, weighted=False)
    g = build(df_from_edges(spark, edges, weighted=False), is_directed=True)
    cc_mem = _map(cc_kernel(g), "label")
    cc_file = _map(cc_kernel(g, spill_dir=str(tmp_path / "ccb")), "label")
    assert cc_mem == cc_file
    lpa_mem = _map(lpa_kernel(g, fixed_rounds=3), "label")
    lpa_file = _map(
        lpa_kernel(g, fixed_rounds=3, spill_dir=str(tmp_path / "lpab")),
        "label",
    )
    assert lpa_mem == lpa_file


def test_lpa_kernel_matches_join(spark):
    edges = _random_edges(40, 150, seed=13, weighted=False)
    g = build(df_from_edges(spark, edges, weighted=False), is_directed=False)
    join = _map(
        label_propagation_community(g, max_rounds=30, strategy="join"), "label"
    )
    kern = _map(lpa_kernel(g, max_rounds=30), "label")
    assert join == kern


@pytest.mark.slow
def test_lpa_kernel_fixed_rounds_parity(spark):
    edges = _random_edges(30, 90, seed=21, weighted=False)
    g = build(df_from_edges(spark, edges, weighted=False), is_directed=True)
    for k in (1, 3):
        join = _map(
            label_propagation_community(g, fixed_rounds=k, strategy="join"),
            "label",
        )
        kern = _map(lpa_kernel(g, fixed_rounds=k), "label")
        assert join == kern, f"fixed_rounds={k}"


def test_degree_free_blocks_guard_and_weight_metadata(spark, tmp_path):
    """with_degrees=False layouts refuse the degree vector with a clear
    error (they cannot feed pagerank), and has_weights round-trips through
    the file-backed metadata."""
    from metagraph_spark.operators.kernel import load_edge_blocks

    edges = _random_edges(20, 60, seed=41)
    g = build(df_from_edges(spark, edges), is_directed=True)
    eb = build_edge_blocks(g, num_blocks=2, with_degrees=False)
    with pytest.raises(RuntimeError, match="with_degrees=False"):
        _ = eb.out_deg
    eb.unpersist()
    # FILE-BACKED degree-free layouts raise the same message (not a bare
    # FileNotFoundError for out_deg.npy)
    ebdf = build_edge_blocks(
        g, num_blocks=2, spill_dir=str(tmp_path / "degfree"),
        with_degrees=False,
    )
    with pytest.raises(RuntimeError, match="with_degrees=False"):
        _ = ebdf.out_deg
    ebdf.unpersist()
    d = str(tmp_path / "wmeta")
    ebf = build_edge_blocks(
        g, num_blocks=2, spill_dir=d, with_weights=True, with_degrees=False
    )
    ebf.unpersist()
    reopened = load_edge_blocks(spark, d)
    assert reopened.has_weights is True
    assert reopened.n == ebf.n
    got = _map(katz_kernel(reopened, fixed_iterations=3), "katz")
    want = _map(katz_kernel(g, fixed_iterations=3), "katz")
    for k in want:
        assert math.isclose(want[k], got[k], rel_tol=1e-9, abs_tol=1e-12)
    reopened.unpersist()


def test_object_slice_store_runs_all_distributed_loops(spark, tmp_path):
    """The ObjectSliceStore double (whole-object put/get/list/delete ONLY
    — the S3 access pattern, no mmap/r+ views/symlinks) satisfies the
    slice-store duck type: the pagerank, CC, and LPA distributed loops
    produce exactly their LocalSliceStore results through it."""
    from metagraph_spark.operators.kernel import (
        build_edge_blocks,
        pagerank_kernel,
    )
    from metagraph_spark.operators.kernel_algos import label_blocks
    from metagraph_spark.operators.slice_stores import ObjectSliceStore

    edges = _random_edges(40, 120, seed=67, weighted=False)
    g = build(df_from_edges(spark, edges, weighted=False), is_directed=True)

    eb_pr = build_edge_blocks(g, spill_dir=str(tmp_path / "prb"))
    want_pr = _map(pagerank_kernel(eb_pr, fixed_iterations=5), "rank")
    got_pr = _map(
        pagerank_kernel(
            eb_pr, fixed_iterations=5,
            slice_store=ObjectSliceStore(str(tmp_path / "bucket_pr")),
        ),
        "rank",
    )
    assert set(want_pr) == set(got_pr)
    for k in want_pr:
        assert math.isclose(
            want_pr[k], got_pr[k], rel_tol=1e-12, abs_tol=1e-15
        ), k
    eb_pr.unpersist()

    shared = label_blocks(g, spill_dir=str(tmp_path / "lblb"))
    want_cc = _map(cc_kernel(shared), "label")
    got_cc = _map(
        cc_kernel(
            shared, slice_store=ObjectSliceStore(str(tmp_path / "bucket_cc"))
        ),
        "label",
    )
    assert want_cc == got_cc
    want_lpa = _map(lpa_kernel(shared, fixed_rounds=3), "label")
    got_lpa = _map(
        lpa_kernel(
            shared, fixed_rounds=3,
            slice_store=ObjectSliceStore(str(tmp_path / "bucket_lpa")),
        ),
        "label",
    )
    assert want_lpa == got_lpa
    shared.unpersist()


def test_shared_label_blocks_feed_cc_and_lpa(spark, tmp_path):
    """ONE label_blocks layout (canonical symmetrized, self-votes applied
    by the LPA loops) feeds both cc_kernel and lpa_kernel with exact
    join-path parity — file-backed and in-memory."""
    from metagraph_spark.operators.kernel_algos import label_blocks

    # include duplicate input edges: CC ignores multiplicity, LPA must
    # (the canonical layout dedups them)
    edges = _random_edges(40, 120, seed=53, weighted=False)
    edges = edges + edges[:25]
    g = build(df_from_edges(spark, edges, weighted=False), is_directed=False)
    want_cc = _map(connected_components(g, strategy="join"), "label")
    want_lpa = _map(
        label_propagation_community(g, fixed_rounds=3, strategy="join"),
        "label",
    )
    for name, shared in (
        ("mem", label_blocks(g)),
        ("file", label_blocks(g, spill_dir=str(tmp_path / "shared"))),
    ):
        got_cc = _map(cc_kernel(shared), "label")
        got_lpa = _map(lpa_kernel(shared, fixed_rounds=3), "label")
        assert want_cc == got_cc, name
        assert want_lpa == got_lpa, name
        shared.unpersist()
    # a reopened file-backed layout feeds the kernels the same way
    from metagraph_spark.operators.kernel import load_edge_blocks

    reopened = load_edge_blocks(spark, str(tmp_path / "shared"))
    assert want_lpa == _map(lpa_kernel(reopened, fixed_rounds=3), "label")
    reopened.unpersist()


def test_lpa_strategy_routing(spark, monkeypatch):
    edges = [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5)]
    g = build(df_from_edges(spark, edges, weighted=False), is_directed=False)
    via_kernel = _map(label_propagation_community(g, strategy="auto"), "label")
    _force_join(monkeypatch)
    assert routing.plan("lpa", g)[0] == "join"
    via_join = _map(label_propagation_community(g, strategy="auto"), "label")
    assert via_kernel == via_join


def test_label_loops_resume_from_committed_round(spark, tmp_path, monkeypatch):
    """CC and LPA slice-store loops resume from the newest COMMITTED label
    vector and finish exactly equal to an uninterrupted run — the label
    analog of the pagerank loop's mid-iteration resume. Fixed-round
    resumes must run exactly the REMAINING rounds (oracle comparisons
    unroll a specific k), so the round count derives from the committed
    vector index."""
    from metagraph_spark.operators.kernel import LocalSliceStore
    from metagraph_spark.operators.kernel_algos import label_blocks

    monkeypatch.setattr(LocalSliceStore, "cleanup", lambda self: None)
    edges = _random_edges(40, 120, seed=68, weighted=False)
    g = build(df_from_edges(spark, edges, weighted=False), is_directed=True)
    shared = label_blocks(g, spill_dir=str(tmp_path / "lblb"))

    # ---- CC, fixed rounds: 2 committed rounds, resume to 5 -------------
    d_cc = str(tmp_path / "cc_store")
    cc_kernel(shared, fixed_rounds=2, slice_store=LocalSliceStore(d_cc))
    assert LocalSliceStore(d_cc).latest_complete() == 2  # index == round
    resumed = _map(
        cc_kernel(shared, fixed_rounds=5,
                  slice_store=LocalSliceStore(d_cc), resume=True),
        "label",
    )
    fresh = _map(
        cc_kernel(shared, fixed_rounds=5,
                  slice_store=LocalSliceStore(str(tmp_path / "cc_f"))),
        "label",
    )
    assert resumed == fresh

    # ---- CC, converged: resume over a finished run re-converges --------
    d_cv = str(tmp_path / "cc_conv")
    cold = _map(
        cc_kernel(shared, slice_store=LocalSliceStore(d_cv)), "label"
    )
    again = _map(
        cc_kernel(shared, slice_store=LocalSliceStore(d_cv), resume=True),
        "label",
    )
    assert again == cold

    # ---- LPA, fixed rounds ----------------------------------------------
    d_lpa = str(tmp_path / "lpa_store")
    lpa_kernel(shared, fixed_rounds=2, slice_store=LocalSliceStore(d_lpa))
    assert LocalSliceStore(d_lpa).latest_complete() == 2
    r_lpa = _map(
        lpa_kernel(shared, fixed_rounds=4,
                   slice_store=LocalSliceStore(d_lpa), resume=True),
        "label",
    )
    f_lpa = _map(
        lpa_kernel(shared, fixed_rounds=4,
                   slice_store=LocalSliceStore(str(tmp_path / "lpa_f"))),
        "label",
    )
    assert r_lpa == f_lpa

    # ---- guards -----------------------------------------------------------
    import pytest as _pytest

    with _pytest.raises(ValueError, match="different"):
        # an LPA store resumed as CC fails the algo check loudly
        cc_kernel(shared, fixed_rounds=3,
                  slice_store=LocalSliceStore(d_lpa), resume=True)
    with _pytest.raises(ValueError, match="resume"):
        cc_kernel(shared, fixed_rounds=2, resume=True)
    shared.unpersist()
