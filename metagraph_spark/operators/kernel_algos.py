"""CSR/Arrow kernels for katz / CC / LPA / eigenvector / HITS supersteps.

Same physical strategy as ``operators/kernel.py``'s PageRank kernel (the
north-star design: per-partition CSR blocks, vectorized numpy
gather-scatter, ZERO shuffles per superstep) applied to the other
iterative operators. Each kernel has exactly two superstep loops with the
same per-block arithmetic, so their results are bit-identical over the
same blocks:

- the driver loop (``_driver_*_loop``) — the whole loop in numpy on the
  driver, no Spark job per superstep; taken when the graph or layout fits
  ``routing.fits_driver``. A Graph builds no block layout for them: each
  call reads its stored edge rows from :meth:`Graph.driver_layout`
  (collected at the first driver-route call on the handle, then kept)
  and derives its dst-sorted block in numpy (katz, eigenvector and HITS
  through ``kernel.driver_block_arrays``, HITS's reversed block through
  ``kernel._graph_block``, CC and LPA through ``_driver_graph_arrays``);
- the slice-store loop (``_distributed_*_loop``) — file-backed blocks
  above the driver caps, or any call with a ``slice_store``. Each is a
  thin schedule on the slice-store protocol of ``operators/kernel.py``
  (store lifecycle, resume, commit and result emit live there once): it
  holds only its per-block update, its reduction of the partial scalars
  and its control flow (katz, eigenvector and HITS share one weighted
  gather, ``_gather_slice``). A Graph above the caps is laid out
  file-backed under ``spill_dir``, or a temp dir removed after the call.

The update rules:

- ``katz_kernel`` — ``x' = α·Aᵀx + β`` over weighted blocks; per block a
  bincount of ``x[srcs]·ws`` into the dst slice. Semantics are EXACTLY
  ``operators/centrality.py:katz_centrality`` (reference contract
  ``plugins/core/algorithms/centrality.py:16-23``, nx impl
  ``plugins/networkx/algorithms.py:30-46``): L1 convergence ``Σ|x'-x| <
  N·tol``, final L2 normalization, ConvergenceError past maxiter.
- ``cc_kernel`` — hash-min label exchange on positional labels: blocks are
  dst-sorted at pack time, so each round's per-dst neighbor minimum is one
  ``np.minimum.reduceat``; converged runs then pointer-jump the labels to
  full compression (``lab = lab[lab]``), giving the O(log V) round bound.
  ``fixed_rounds`` stays PURE hash-min (the unrolled-SQL oracle contract,
  exactly ``operators/components.py:_min_label_fixpoint``). Positions are
  order-isomorphic to sorted ids, so ``node_ids[lab]`` equals the join
  path's min-id labels at EVERY round.
- ``lpa_kernel`` — deterministic synchronous LPA, exactly
  ``operators/lpa.py`` semantics (most frequent neighbor label + one
  self-vote, ties to the smallest label), via run-length vote counting
  and segmented ``reduceat`` winners (``_mode_votes``).
- ``eigenvector_kernel`` — ``x' = x + Aᵀx`` then L2-normalize.
- ``hits_kernel`` — ``a = Aᵀh`` over forward blocks, ``h = A·a`` over
  reversed blocks (:func:`hits_blocks`), max-normalizing each half-step.

All but HITS accept a prebuilt :class:`EdgeBlocks` (amortize the layout)
or a Graph. Integer-label kernels (cc, lpa) are EXACTLY equal to the join
path (asserted in tests/test_kernel_algos.py); the float kernels agree to
float rounding.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from metagraph_spark.exceptions import ConvergenceError
from metagraph_spark.graph import DST, SRC, Graph, driver_frame
from metagraph_spark.operators import kernel
from metagraph_spark.operators.kernel import (
    EdgeBlocks,
    _driver_blocks,
    _emit_slices,
    _gather,
    _give_up,
    _open_block,
    _open_block_weights,
    _open_run,
    _resume_or_start,
    _slice_superstep,
    build_edge_blocks,
    with_blocks,
)

_IMAX = np.iinfo(np.int64).max


def _gather_slice(vec, path: str, width: int, weighted: bool,
                  scale: float = 1.0) -> np.ndarray:
    """``Aᵀ·(vec/scale)`` on the ``width``-position dst slice of one
    file-backed block — the slice-side twin of :func:`kernel._gather`."""
    srcs, dsts = _open_block(path)
    w = np.asarray(vec)[srcs]
    if scale != 1.0:
        w = w / scale
    if weighted:
        w = w * np.asarray(_open_block_weights(path))
    return np.bincount(dsts, weights=w, minlength=width)[:width]


def _distributed_katz_loop(
    eb: EdgeBlocks,
    alpha: float,
    beta: float,
    total: int,
    tolerance: float,
    fixed_iterations: int | None,
    metrics_sink: list | None,
) -> DataFrame:
    """Katz on the slice-store protocol (``operators/kernel.py``). Each
    task writes its dst slice ``α·gather + β`` and returns (err, Σnew²)
    partials; the L2 norm for the final normalization is the last
    superstep's Σnew² — no extra pass."""
    n = eb.n
    weighted = eb.has_weights
    store, hi_of = _open_run(eb, None, "katz")
    _resume_or_start(store, False, {"algo": "katz", "n": n}, (), -1,
                     np.zeros(n))

    def update(prev, path, lo, hi):
        new_slice = alpha * _gather_slice(prev, path, hi - lo, weighted) + beta
        return new_slice, {
            "err": float(np.abs(new_slice - np.asarray(prev[lo:hi])).sum()),
            "sumsq": float((new_slice * new_slice).sum()),
        }

    err = sumsq = None
    for it in range(total):
        out = _slice_superstep(eb, store, hi_of, it - 1, it, update,
                               "err double, sumsq double", "katz superstep")
        err = float(out["err"].sum())
        sumsq = float(out["sumsq"].sum())
        if metrics_sink is not None:
            metrics_sink.append({"iteration": it, "l1_error": err})
        if it >= 1:
            store.delete_vector(it - 2)
        if fixed_iterations is None and err < n * tolerance:
            total = it + 1
            break
    else:
        if fixed_iterations is None:
            _give_up(store, ConvergenceError(
                f"katz failed to converge (err={err!r})"
            ))
    norm = 1.0 / math.sqrt(sumsq) if sumsq and sumsq > 0 else 1.0
    return _emit_slices(eb, store, hi_of, total - 1, "katz double",
                        lambda ids, x: x * norm)


def _weighted_build(graph_or_blocks):
    """Degree-free layout builder carrying the graph's weights."""
    weighted = (
        isinstance(graph_or_blocks, Graph) and graph_or_blocks.is_weighted
    )
    return lambda g, d: build_edge_blocks(
        g, spill_dir=d, with_weights=weighted, with_degrees=False
    )


def _driver_katz_loop(spark, ids, blks, alpha, beta, total, tolerance,
                      fixed_iterations, metrics_sink, maxiter):
    """Katz supersteps over driver-resident block arrays (:func:`_gather`),
    no Spark job per superstep."""
    n = len(ids)
    if n == 0:
        return spark.createDataFrame([], "id long, katz double")
    x = np.zeros(n)
    err = None
    for it in range(total):
        new_x = alpha * _gather(blks, x, n) + beta
        err = float(np.abs(new_x - x).sum())
        if metrics_sink is not None:
            metrics_sink.append({"iteration": it, "l1_error": err})
        x = new_x
        if fixed_iterations is None and err < n * tolerance:
            break
    else:
        if fixed_iterations is None:
            raise ConvergenceError(
                f"katz failed to converge in {maxiter} iterations "
                f"(err={err!r})"
            )
    sumsq = float((x * x).sum())
    norm = 1.0 / math.sqrt(sumsq) if sumsq > 0 else 1.0
    return driver_frame(spark, {"id": ids, "katz": x * norm},
                        "id long, katz double")


def katz_kernel(
    graph_or_blocks,
    attenuation_factor: float = 0.01,
    immediate_neighbor_weight: float = 1.0,
    maxiter: int = 50,
    tolerance: float = 1e-05,
    fixed_iterations: int | None = None,
    metrics_sink: list | None = None,
    spill_dir: str | None = None,
) -> DataFrame:
    """Katz centrality via CSR blocks. Returns ``(id, katz)``.

    A Graph argument within the driver caps runs the driver loop over the
    weighted block :func:`kernel.driver_block_arrays` derives from one
    collect of its edges; above them it builds weighted blocks file-backed
    (``spill_dir`` or a temp dir) for the slice-store loop. A prebuilt
    EdgeBlocks must have been built ``with_weights=True`` if the graph is
    weighted (unweighted blocks run with implicit weight 1.0)."""
    alpha, beta = attenuation_factor, immediate_neighbor_weight
    total = fixed_iterations if fixed_iterations is not None else maxiter
    args = (alpha, beta, total, tolerance, fixed_iterations, metrics_sink,
            maxiter)
    g = graph_or_blocks
    drv = (kernel.driver_block_arrays(g)
           if isinstance(g, Graph) and spill_dir is None else None)
    if drv is not None:
        return _driver_katz_loop(g.edges.sparkSession, *drv, *args)

    def run(eb: EdgeBlocks) -> DataFrame:
        spark, n = eb.spark, eb.n
        if n == 0:
            return spark.createDataFrame([], "id long, katz double")
        drv = _driver_blocks(eb)
        if drv is None:
            return _distributed_katz_loop(
                eb, alpha, beta, total, tolerance, fixed_iterations,
                metrics_sink,
            )
        return _driver_katz_loop(spark, *drv, *args)

    return with_blocks(
        graph_or_blocks, _weighted_build(graph_or_blocks), run, spill_dir,
    )


def _distributed_eigenvector_loop(eb: EdgeBlocks, maxiter: int,
                                  tolerance: float,
                                  fixed_iterations: int | None) -> DataFrame:
    """Eigenvector on the slice-store protocol (``operators/kernel.py``):
    vector ``t`` is superstep ``t``'s un-normalized ``z``, its L2 norm a
    driver scalar. Superstep ``t``'s lagged error needs that norm, so it
    rides job ``t+1``, over the kept vector ``t-1``: a converged run takes
    one job more than the driver and join routes."""
    n, weighted = eb.n, eb.has_weights
    store, hi_of = _open_run(eb, None, "eig")
    _resume_or_start(store, False, {"algo": "eigenvector", "n": n}, (), -1,
                     np.full(n, 1.0 / n))
    norm = {-1: 1.0}
    fixed = fixed_iterations is not None
    total = fixed_iterations if fixed else maxiter + 2
    for it in range(total):
        c, c_old, lag = norm[it - 1], norm.get(it - 2), not fixed and it >= 2

        def update(prev, path, lo, hi):
            x = np.asarray(prev[lo:hi]) / c
            z = x + _gather_slice(prev, path, hi - lo, weighted, c)
            err = 0.0
            if lag:
                old = np.asarray(store.open_read(it - 2)[lo:hi])
                err = float(np.abs(old / c_old - x).sum())
            return z, {"sumsq": float((z * z).sum()), "err": err}

        out = _slice_superstep(eb, store, hi_of, it - 1, it, update,
                               "sumsq double, err double",
                               "eigenvector superstep")
        sumsq = float(out["sumsq"].sum())
        norm[it] = math.sqrt(sumsq) if sumsq > 0 else 1.0
        if it >= 1:
            store.delete_vector(it - 2)
        if lag and float(out["err"].sum()) < n * tolerance:
            total = it
            break
    else:
        if not fixed:
            _give_up(store, ConvergenceError(
                f"eigenvector failed to converge in {maxiter} iterations"
            ))
    c = norm[total - 1]
    return _emit_slices(eb, store, hi_of, total - 1, "eigenvector double",
                        lambda ids, z: z / c)


def _driver_eigenvector_loop(spark, ids, blks, maxiter, tolerance,
                             fixed_iterations) -> DataFrame:
    """Eigenvector supersteps over driver-resident block arrays
    (:func:`_gather`), no Spark job per superstep: ``x' = x + Aᵀx`` then
    L2-normalize, the error lagged one superstep over ``maxiter+1``
    supersteps."""
    n = len(ids)
    if n == 0:
        return spark.createDataFrame([], "id long, eigenvector double")
    xn = np.full(n, 1.0 / n)  # current NORMALIZED iterate
    total = fixed_iterations if fixed_iterations is not None else maxiter + 1
    for it in range(total):
        z = xn + _gather(blks, xn, n)
        zn = math.sqrt(float((z * z).sum()))
        new_xn = z / zn if zn > 0 else z
        done = (fixed_iterations is None and it >= 1
                and float(np.abs(xn - new_xn).sum()) < n * tolerance)
        xn = new_xn
        if done:
            break
    else:
        if fixed_iterations is None:
            raise ConvergenceError(
                f"eigenvector failed to converge in {maxiter} iterations"
            )
    return driver_frame(spark, {"id": ids, "eigenvector": xn},
                        "id long, eigenvector double")


def eigenvector_kernel(
    graph_or_blocks,
    maxiter: int = 50,
    tolerance: float = 1e-05,
    fixed_iterations: int | None = None,
) -> DataFrame:
    """Eigenvector centrality via CSR blocks. Returns ``(id, eigenvector)``.

    Exactly ``operators/centrality.py:eigenvector_centrality`` (reference
    ``plugins/networkx/algorithms.py:192-199``): ``x' = x + Aᵀx`` then
    L2-normalize every iteration; same lagged convergence schedule as the
    join path (error checked from iteration 1 over ``maxiter+1`` total),
    so converged runs stop at the same superstep. Routes as
    :func:`katz_kernel` does, without a ``spill_dir``."""
    args = (maxiter, tolerance, fixed_iterations)
    g = graph_or_blocks
    drv = kernel.driver_block_arrays(g) if isinstance(g, Graph) else None
    if drv is not None:
        return _driver_eigenvector_loop(g.edges.sparkSession, *drv, *args)

    def run(eb: EdgeBlocks) -> DataFrame:
        if eb.n == 0:
            return eb.spark.createDataFrame([], "id long, eigenvector double")
        drv = _driver_blocks(eb)
        if drv is not None:
            return _driver_eigenvector_loop(eb.spark, *drv, *args)
        return _distributed_eigenvector_loop(eb, *args)

    return with_blocks(g, _weighted_build(g), run)


def hits_blocks(graph: Graph, spill_dir: str | None = None):
    """:func:`hits_kernel`'s forward (by dst) and reversed (by src) blocks
    of a directed graph under ``spill_dir`` (required), weighted when the
    graph is, from one id sort and one positions pass. Both cover the same
    dst ranges, so one slice store serves both."""
    weighted = graph.is_weighted
    pos, n, nb = kernel._positions(graph, graph.edges, None, spill_dir,
                                   weighted)
    pos = pos.persist()
    rev = pos.select(
        F.col("src_blk").alias("block"), F.col("dst_pos").alias("src_pos"),
        F.col("src_pos").alias("dst_pos"), *(["w"] if weighted else []),
    )
    out = tuple(
        EdgeBlocks(manifest=kernel._pack_blocks(p, spill_dir, prefix, n, nb,
                                                weighted),
                   spill_dir=spill_dir, n=n, has_weights=weighted)
        for p, prefix in ((pos, "block"), (rev, "rblock"))
    )
    pos.unpersist()
    return out


def _distributed_hits_loop(fwd: EdgeBlocks, rev: EdgeBlocks, maxiter: int,
                           tolerance: float, normalize: bool,
                           fixed_iterations: int | None):
    """HITS on the slice-store protocol (``operators/kernel.py``), one
    store for both un-normalized vectors: ``h_t`` at index ``2t``, ``a_t``
    at ``2t+1``, each one's max and sum driver scalars. Superstep ``t``'s
    hub error needs ``h_{t+1}``'s max, so it rides superstep ``t+1``'s
    authority job, over the kept ``h_t`` (one job more than the driver and
    join routes in a converged run)."""
    n, weighted = fwd.n, fwd.has_weights
    store, hi_of = _open_run(fwd, None, "hits")
    h0 = np.full(n, 1.0 / n)
    _resume_or_start(store, False, {"algo": "hits", "n": n}, (), 0, h0)
    norm, sums = {0: 1.0}, {0: float(h0.sum())}

    def half_step(eb: EdgeBlocks, src: int, lag: bool) -> float:
        c, c_old = norm[src], norm.get(src - 2)

        def update(prev, path, lo, hi):
            v = _gather_slice(prev, path, hi - lo, weighted, c)
            err = 0.0
            if lag:
                old = np.asarray(store.open_read(src - 2)[lo:hi])
                err = float(np.abs(np.asarray(prev[lo:hi]) / c
                                   - old / c_old).sum())
            return v, {"max": float(v.max()), "sum": float(v.sum()),
                       "err": err}

        out = _slice_superstep(eb, store, hi_of, src, src + 1, update,
                               "max double, sum double, err double",
                               "hits superstep")
        # join parity: Observation max(v) `or 1.0` — 0.0 falls back, a
        # negative max (negative weights) is kept as the divisor
        m = float(out["max"].max())
        norm[src + 1] = m if m != 0.0 else 1.0
        sums[src + 1] = float(out["sum"].sum())
        if src >= 2:
            store.delete_vector(src - 2)
        return float(out["err"].sum())

    fixed = fixed_iterations is not None
    total = fixed_iterations if fixed else maxiter
    for t in range(total if fixed else total + 1):
        lag = not fixed and t >= 1  # superstep t-1's hub error
        if half_step(fwd, 2 * t, lag) < tolerance and lag:
            total = t
            break
        if t < total:
            half_step(rev, 2 * t + 1, False)
    else:
        if not fixed:
            _give_up(store, ConvergenceError(
                f"hits failed to converge in {maxiter} iterations"
            ))
    (hn, hs), (an, asum) = (
        (norm[k], (sums[k] / norm[k] if normalize else 1.0) or 1.0)
        for k in (2 * total, 2 * total - 1))
    both = _emit_slices(fwd, store, hi_of, (2 * total, 2 * total - 1),
                        "hubs double, authority double",
                        lambda ids, h, a: (h / hn / hs, a / an / asum))
    return both.select("id", "hubs"), both.select("id", "authority")


def _driver_hits_loop(spark, ids, fwd, rev, maxiter, tolerance, normalize,
                      fixed_iterations):
    """HITS supersteps over the driver-resident forward (authority
    gather) and reversed (hub gather) blocks (:func:`_gather`), no Spark
    job per superstep: ``a = Aᵀh`` then ``h = A·a``, max-normalizing each
    half-step, convergence on ``Σ|h'-h| < tol``, optional final
    sum-normalization."""
    n = len(ids)
    if n == 0:
        return (spark.createDataFrame([], "id long, hubs double"),
                spark.createDataFrame([], "id long, authority double"))
    h = np.full(n, 1.0 / n)
    h_norm = 1.0
    a = np.zeros(n)
    a_norm = 1.0
    total = fixed_iterations if fixed_iterations is not None else maxiter
    converged = fixed_iterations is not None
    for _ in range(total):
        a = _gather(fwd, h / h_norm, n)
        # join parity: Observation max(v) `or 1.0` — 0.0 falls back,
        # a negative max (negative weights) is kept as the divisor
        am = float(a.max())
        a_norm = am if am != 0.0 else 1.0
        h_prev_normed = h / h_norm
        h = _gather(rev, a / a_norm, n)
        hm = float(h.max())
        h_norm = hm if hm != 0.0 else 1.0
        if fixed_iterations is None:
            if float(np.abs(h / h_norm - h_prev_normed).sum()) < tolerance:
                converged = True
                break
    if not converged:
        raise ConvergenceError(
            f"hits failed to converge in {maxiter} iterations"
        )
    hv = h / h_norm
    av = a / a_norm
    if normalize:
        hv = hv / (float(hv.sum()) or 1.0)
        av = av / (float(av.sum()) or 1.0)
    return (driver_frame(spark, {"id": ids, "hubs": hv},
                         "id long, hubs double"),
            driver_frame(spark, {"id": ids, "authority": av},
                         "id long, authority double"))


def hits_kernel(
    graph: Graph,
    maxiter: int = 50,
    tolerance: float = 1e-05,
    normalize: bool = True,
    fixed_iterations: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """HITS via CSR blocks (directed). Returns ``(hubs, authorities)``.

    Exactly ``operators/centrality.py:hits_centrality`` (nx semantics,
    ``plugins/networkx/algorithms.py:201-206``): ``a = Aᵀh`` /
    ``h = A·a`` with max-normalization each half-step, convergence on
    ``Σ|h'-h| < tol`` (not N-scaled), optional final sum-normalization.
    The two mat-vecs are data-dependent, so two gathers per superstep is
    the algorithmic minimum: over a forward and a reversed view of the
    driver layout within the driver caps, over :func:`hits_blocks` in a
    temp dir above them. ``fixed_iterations`` must be at least 1."""
    from metagraph_spark.exceptions import GraphPropertyError

    if not graph.is_directed:
        raise GraphPropertyError("hits requires a directed graph")
    if fixed_iterations is not None and fixed_iterations < 1:
        raise ValueError("hits needs fixed_iterations >= 1: the first "
                         "superstep computes the authorities")
    args = (maxiter, tolerance, normalize, fixed_iterations)
    fwd = kernel.driver_block_arrays(graph)
    if fwd is not None:
        ids, blks = fwd
        _, rev = kernel._graph_block(graph, reverse=True)
        return _driver_hits_loop(graph.edges.sparkSession, ids, blks, rev,
                                 *args)

    def run(ebs: tuple[EdgeBlocks, EdgeBlocks]):
        if ebs[0].n == 0:
            return (ebs[0].spark.createDataFrame([], "id long, hubs double"),
                    ebs[0].spark.createDataFrame([],
                                                 "id long, authority double"))
        return _distributed_hits_loop(*ebs, *args)

    return with_blocks(graph, hits_blocks, run)


def _segmented_min(dsts: np.ndarray, vals: np.ndarray) -> np.ndarray:
    """Dense per-local-dst minimum; absent dsts hold ``_IMAX``.

    Blocks are dst-sorted at pack time → one ``reduceat``; unsorted legacy
    blocks fall back to ``np.minimum.at``."""
    if len(dsts) == 0:
        return np.empty(0, dtype=np.int64)
    width = int(dsts[-1]) + 1
    if width >= 1 and np.all(dsts[:-1] <= dsts[1:]):
        starts = np.flatnonzero(np.r_[True, dsts[1:] != dsts[:-1]])
        mins = np.minimum.reduceat(vals, starts)
        m = np.full(width, _IMAX, dtype=np.int64)
        m[np.asarray(dsts)[starts]] = mins
        return m
    width = int(np.max(dsts)) + 1
    m = np.full(width, _IMAX, dtype=np.int64)
    np.minimum.at(m, np.asarray(dsts), vals)
    return m


def cc_blocks(graph: Graph, spill_dir: str | None = None,
              num_blocks: int | None = None) -> EdgeBlocks:
    """Prebuild :func:`cc_kernel` blocks (RAW both-directions union,
    degree-free) under ``spill_dir`` (required, as for
    :func:`kernel.build_edge_blocks`) — the layout is the dominant one-time
    cost at scale; build once, run many."""
    e = graph.edges.select(SRC, DST)
    sym = e.unionAll(e.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST)))
    return build_edge_blocks(
        graph, num_blocks=num_blocks, spill_dir=spill_dir, edges=sym,
        with_degrees=False,
    )


def label_blocks(graph: Graph, spill_dir: str | None = None,
                 num_blocks: int | None = None) -> EdgeBlocks:
    """ONE shared layout for :func:`cc_kernel` AND :func:`lpa_kernel`:
    canonical undirected edges in both directions (deduplicated, no
    self-loops), degree-free. CC is invariant to the dedup (min over a
    multiset ignores multiplicity); LPA REQUIRES it (vote counts are
    multiplicities) plus exactly one self-vote per node, which the LPA
    loops apply algebraically (``_mode_votes``) instead of materializing V
    extra edge rows in a second full layout — at 100M edges a separate
    vote layout cost ~190 s on top of the CC layout for nearly the same
    symmetrized edge set (VERDICT r4 #5). Build once under ``spill_dir``
    (required, as for :func:`kernel.build_edge_blocks`), feed both
    kernels."""
    sym = Graph(
        edges=graph.canonical_undirected_edges().select(SRC, DST),
        is_directed=False,
    ).symmetrized()
    return build_edge_blocks(
        graph, num_blocks=num_blocks, spill_dir=spill_dir,
        edges=sym, with_degrees=False,
    )


def _distributed_cc_loop(
    eb: EdgeBlocks, max_rounds: int, fixed_rounds: int | None,
    slice_store=None, resume: bool = False,
) -> DataFrame:
    """Hash-min on the slice-store protocol (``operators/kernel.py``):
    int64 label vectors, each gather task writes its dst-slice minimum
    and returns a changed-count partial, and converged rounds append ONE
    pointer-doubling job (``J[lo:hi] = L[L[lo:hi]]`` over the global
    vector) — O(log V) rounds, driver state O(num_blocks), capped only by
    int32 positions.

    Every committed label vector is a valid min-label state (hash-min is
    monotone), so ``resume`` restarts from the newest one. Fixed-round
    runs never jump, so vector index == round and the count is EXACT
    (oracle comparisons unroll a specific k); converged runs take the
    round counter written with each gather commit — a crash between the
    two replays one gather, which is idempotent under min."""
    n = eb.n
    store, hi_of = _open_run(eb, slice_store, "cc")
    mode = "fixed" if fixed_rounds is not None else "converged"
    meta = {"algo": "cc", "n": n, "round": 0, "mode": mode}
    cur, prior = _resume_or_start(store, resume, meta, ("algo", "n"), 0,
                                  np.arange(n, dtype=np.int64))
    if prior.get("mode", mode) != mode:
        # converged-mode vectors include pointer-jump commits, so "vector
        # index == round" does NOT hold across modes: a fixed-round
        # resume from a converged store would overstate the completed
        # rounds and unroll a different k
        raise ValueError(
            "resume requested with "
            f"{mode} rounds but the slice store holds a "
            f"{prior.get('mode')!r}-mode run; finish it with the "
            "same mode or start a fresh store"
        )
    rnd = cur if fixed_rounds is not None else int(prior.get("round", 0))

    def gather(prev, path, lo, hi):
        srcs, dsts = _open_block(path)
        prev_slice = np.asarray(prev[lo:hi])
        if len(srcs):
            m = _segmented_min(np.asarray(dsts), np.asarray(prev)[srcs])
            new_slice = prev_slice.copy()
            np.minimum(new_slice[: len(m)], m, out=new_slice[: len(m)])
        else:
            new_slice = prev_slice
        return new_slice, {"changed": int((new_slice != prev_slice).sum())}

    def jump(full, path, lo, hi):
        # valid min-label state; fixpoint unchanged
        # (components.py:96-118 argument)
        return np.asarray(full)[np.asarray(full[lo:hi])], {}

    total = fixed_rounds if fixed_rounds is not None else max_rounds
    converged = fixed_rounds is not None
    while rnd < total:
        rnd += 1
        out = _slice_superstep(eb, store, hi_of, cur, cur + 1, gather,
                               "changed long", "cc round", np.int64,
                               meta={**meta, "round": rnd})
        cur += 1
        changed = int(out["changed"].sum())
        if fixed_rounds is None and changed:
            _slice_superstep(eb, store, hi_of, cur, cur + 1, jump, "",
                             "cc jump", np.int64)
            cur += 1
        # drop everything older than the newest vector
        for old in range(max(0, cur - 3), cur):
            store.delete_vector(old)
        if fixed_rounds is None and changed == 0:
            converged = True
            break
    if fixed_rounds is None and not converged:
        _give_up(store, ConvergenceError(
            f"connected_components kernel did not stabilize in "
            f"{max_rounds} rounds"
        ))
    return _emit_slices(eb, store, hi_of, cur, "label long",
                        lambda ids, lab: np.asarray(ids)[lab])


def cc_kernel(
    graph_or_blocks,
    max_rounds: int = 200,
    fixed_rounds: int | None = None,
    spill_dir: str | None = None,
    slice_store=None,
    resume: bool = False,
) -> DataFrame:
    """Connected components via CSR blocks. Returns ``(id, label)``,
    label = min node id in the component (exactly the join path's labels).

    A Graph argument that fits the driver caps runs :func:`_driver_cc_loop`
    over the edge view :func:`_driver_graph_arrays` derives from one
    collect of its edges (no block layout). Otherwise
    it builds :func:`cc_blocks` from the RAW both-directions union
    (matching ``operators/components.py``'s symmetrization — duplicate
    edges are harmless under min) FILE-BACKED under ``spill_dir`` (or a
    temp dir removed after the call): per-round gathers mmap the block
    files and the labels live in the slice store
    (:func:`_distributed_cc_loop`, driver state O(num_blocks)). Prebuilt
    blocks run the driver loop when they fit, the slice-store loop
    otherwise. Converged runs pointer-jump the positional labels to full
    compression after every round; the ``fixed_rounds`` oracle path is
    pure hash-min."""

    def run(eb: EdgeBlocks) -> DataFrame:
        spark, n = eb.spark, eb.n
        if n == 0:
            return spark.createDataFrame([], "id long, label long")
        drv = _driver_blocks(eb, slice_store, resume)
        if drv is None:
            return _distributed_cc_loop(
                eb, max_rounds, fixed_rounds, slice_store=slice_store,
                resume=resume,
            )
        ids, blks = drv
        return _driver_cc_loop(spark, n, blks, ids, max_rounds, fixed_rounds)

    g = graph_or_blocks
    if isinstance(g, Graph) and (
        slice_store is None and not resume and spill_dir is None
    ):
        arrs = _driver_graph_arrays(g, "raw_sym")
        if arrs is not None:
            ids, srcs, dsts = arrs
            return _driver_cc_loop(
                g.edges.sparkSession, len(ids), [(0, srcs, dsts, None)], ids,
                max_rounds, fixed_rounds,
            )
    return with_blocks(g, lambda g_, d: cc_blocks(g_, spill_dir=d), run,
                       spill_dir)


def _segmented_mode(dsts: np.ndarray, labs: np.ndarray):
    """Per-local-dst modal label, ties to the smallest label.

    Returns (uniq_local_dsts, winning_labels). One composite-key sort +
    run-length counting + two segmented reduceats — no python loops. The
    (dst, label) pair is packed into one int64 key (dst·stride + label):
    ``np.sort`` on the single key measured 20x faster than
    ``np.lexsort((labs, dsts))`` on 3M-edge blocks, and the sort order is
    identical. Fits int64 for any V < 2^31 (the positional-layout cap)."""
    if len(dsts) == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    labs = np.asarray(labs, dtype=np.int64)
    stride = int(labs.max()) + 1
    key = np.asarray(dsts, dtype=np.int64) * stride + labs
    key.sort()
    n_e = len(key)
    newrun = np.empty(n_e, dtype=bool)
    newrun[0] = True
    np.not_equal(key[1:], key[:-1], out=newrun[1:])
    run_starts = np.flatnonzero(newrun)
    n_r = len(run_starts)
    # decompose dst/label ONLY at run starts (runs << edges after the
    # first rounds; the full-array divmod measured 0.4 s/block at 3M)
    run_key = key[run_starts]
    run_d = run_key // stride
    run_w = run_key - run_d * stride
    run_cnt = np.empty(n_r, dtype=np.int64)
    np.subtract(run_starts[1:], run_starts[:-1], out=run_cnt[: n_r - 1])
    run_cnt[n_r - 1] = n_e - run_starts[n_r - 1]
    segnew = np.empty(n_r, dtype=bool)
    segnew[0] = True
    np.not_equal(run_d[1:], run_d[:-1], out=segnew[1:])
    seg_starts = np.flatnonzero(segnew)
    n_s = len(seg_starts)
    seg_cnt = np.empty(n_s, dtype=np.int64)
    np.subtract(seg_starts[1:], seg_starts[:-1], out=seg_cnt[: n_s - 1])
    seg_cnt[n_s - 1] = n_r - seg_starts[n_s - 1]
    seg_max = np.maximum.reduceat(run_cnt, seg_starts)
    is_max = run_cnt == np.repeat(seg_max, seg_cnt)
    # first max-count run per segment; runs are label-ascending within a
    # segment, so "first" == smallest label among the most frequent
    cand = np.where(is_max, np.arange(n_r), n_r)
    win_idx = np.minimum.reduceat(cand, seg_starts)
    return run_d[seg_starts], run_w[win_idx]


def _driver_graph_arrays(graph: Graph, edge_mode: str):
    """(sorted_ids, src_pos, dst_pos) for a SMALL graph, derived in numpy
    per call from the handle's kept collect of its edges,
    :meth:`Graph.driver_layout`, or
    ``None`` past the driver-loop caps. ``edge_mode``:
    ``"raw_sym"`` (both directions of the raw rows — cc_blocks' edge set)
    or ``"canonical_sym"`` (deduplicated canonical pairs, self-loops
    dropped, both directions — label_blocks' edge set). Node universe =
    edge endpoints ∪ explicit graph.nodes, exactly ``node_ids()``. Output
    is dst-position sorted like packed blocks, so the driver loops and
    their segmented kernels apply unchanged (identical label results)."""
    lay = graph.driver_layout()
    if lay is None:
        return None
    sp, dp = lay.src, lay.dst
    if edge_mode == "canonical_sym":
        lo, hi = lay.canonical_pairs()
        src_pos = np.concatenate([lo, hi])
        dst_pos = np.concatenate([hi, lo])
    else:
        src_pos = np.concatenate([sp, dp])
        dst_pos = np.concatenate([dp, sp])
    order = np.argsort(dst_pos, kind="stable")
    return lay.ids, src_pos[order], dst_pos[order]


def _driver_cc_loop(spark, n, blks, ids, max_rounds, fixed_rounds):
    """Hash-min loop over driver-resident block arrays (see
    ``routing.fits_driver``): per-block segmented-min +
    slice-minimum, pointer jumping on the converged path — the identical
    integer arithmetic as the slice-store loop, no per-round Spark job."""
    lab = np.arange(n, dtype=np.int64)
    total = fixed_rounds if fixed_rounds is not None else max_rounds
    rnd = 0
    while rnd < total:
        m_vec = np.full(n, _IMAX, dtype=np.int64)
        for lo, srcs, dsts, _ws in blks:
            if len(srcs) == 0:
                continue
            m = _segmented_min(dsts, lab[srcs])
            seg = m_vec[lo : lo + len(m)]
            np.minimum(seg, m, out=seg)
        new_lab = np.minimum(lab, np.where(m_vec == _IMAX, lab, m_vec))
        changed = int((new_lab != lab).sum())
        rnd += 1
        if fixed_rounds is None:
            while True:
                nl = new_lab[new_lab]
                if np.array_equal(nl, new_lab):
                    break
                new_lab = nl
        lab = new_lab
        if fixed_rounds is None and changed == 0:
            break
    else:
        if fixed_rounds is None:
            raise ConvergenceError(
                f"connected_components kernel did not stabilize in "
                f"{max_rounds} rounds"
            )
    return driver_frame(spark, {"id": ids, "label": np.asarray(ids)[lab]},
                        "id long, label long")


def _driver_lpa_loop(spark, n, blks, ids, max_rounds, fixed_rounds):
    """Synchronous-LPA loop over driver-resident block arrays — identical
    votes/winners as the slice-store loop, no per-round Spark job."""
    lab = np.arange(n, dtype=np.int64)
    total = fixed_rounds if fixed_rounds is not None else max_rounds
    for _ in range(total):
        new_lab = lab.copy()
        for lo, srcs, dsts, _ws in blks:
            if len(srcs) == 0:
                continue
            uniq, win = _mode_votes(dsts, lab[srcs], lab[lo:])
            new_lab[lo + uniq] = win
        changed = int((new_lab != lab).sum())
        lab = new_lab
        if fixed_rounds is None and changed == 0:
            break
    return driver_frame(spark, {"id": ids, "label": np.asarray(ids)[lab]},
                        "id long, label long")


# Segments at least this long take the dense-bincount mode path inside
# ``_mode_votes`` instead of entering the composite-key sort.
_BIG_SEG = 4096


def _mode_votes(dsts, labs, prev_tail):
    """Per-local-dst modal label (ties to the smallest label) over
    dst-sorted neighbor votes, with the one-self-vote rule applied
    ALGEBRAICALLY (+1 to the dst's own previous label — exactly a
    self-loop vote row's effect; a lone self-vote on an unvoted position
    is a no-op either way, so only voted dsts need it). Returns
    ``(uniq_local_dsts, winners)``.

    Skew guard (guide §2.5, round 6): hub-degree segments (>= _BIG_SEG
    rows) are counted with a dense ``np.bincount`` + ``argmax`` — O(rows)
    per segment, first-max == smallest label, identical winner — instead
    of entering the composite sort: on the 100M-edge Zipf bench one block
    held a 65M-row hub segment and its single-threaded sort was 55 s of a
    57 s round. Small segments keep the measured-fast composite-key sort
    (:func:`_segmented_mode`). ``prev_tail`` is the previous label vector
    FROM the block's dst_lo onward (indexed by local dst)."""
    dsts = np.asarray(dsts, dtype=np.int64)
    labs = np.asarray(labs, dtype=np.int64)
    if len(dsts) == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    if not np.all(dsts[:-1] <= dsts[1:]):
        order = np.argsort(dsts, kind="stable")
        dsts, labs = dsts[order], labs[order]
    starts = np.flatnonzero(np.r_[True, dsts[1:] != dsts[:-1]])
    lens = np.diff(np.r_[starts, len(dsts)])
    seg_d = dsts[starts]
    big = lens >= _BIG_SEG
    big_d, big_w = [], []
    for i in np.flatnonzero(big):
        s = int(starts[i])
        seg = labs[s : s + int(lens[i])]
        cnt = np.bincount(seg)
        d_loc = int(seg_d[i])
        own = int(prev_tail[d_loc])
        if own >= len(cnt):
            cnt = np.concatenate(
                [cnt, np.zeros(own - len(cnt) + 1, dtype=cnt.dtype)]
            )
        cnt[own] += 1
        big_d.append(d_loc)
        big_w.append(int(np.argmax(cnt)))
    if big.all():
        return (
            np.asarray(big_d, dtype=np.int64),
            np.asarray(big_w, dtype=np.int64),
        )
    row_small = np.repeat(~big, lens)
    d_small = dsts[row_small]
    l_small = labs[row_small]
    sd = seg_d[~big]
    d_small = np.concatenate([d_small, sd])
    l_small = np.concatenate([l_small, np.asarray(prev_tail)[sd]])
    uniq, win = _segmented_mode(d_small, l_small)
    if big_d:
        uniq = np.concatenate([uniq, np.asarray(big_d, dtype=np.int64)])
        win = np.concatenate([win, np.asarray(big_w, dtype=np.int64)])
    return uniq, win


def _distributed_lpa_loop(
    eb: EdgeBlocks, max_rounds: int, fixed_rounds: int | None,
    slice_store=None, resume: bool = False,
) -> DataFrame:
    """LPA on the slice-store protocol (``operators/kernel.py``): each
    task computes its dst range's modal votes and writes the slice —
    positions without a neighbor vote (isolated nodes) keep their previous
    label. One job per round, driver state O(num_blocks).

    The vector index IS the round number (one vector per round, the
    previous one deleted after the commit), so ``resume`` restarts at
    round ``latest_complete()`` and runs exactly the REMAINING rounds —
    deterministic sync LPA replays bit-identically from any committed
    round."""
    n = eb.n
    store, hi_of = _open_run(eb, slice_store, "lpa")
    cur, _ = _resume_or_start(store, resume, {"algo": "lpa", "n": n},
                              ("algo", "n"), 0, np.arange(n, dtype=np.int64))

    def step(prev, path, lo, hi):
        srcs, dsts = _open_block(path)
        prev_slice = np.asarray(prev[lo:hi])
        new_slice = prev_slice.copy()
        if len(srcs):
            labs = np.asarray(prev)[srcs]
            uniq, win = _mode_votes(dsts, labs, prev_slice)
            new_slice[uniq] = win
        return new_slice, {"changed": int((new_slice != prev_slice).sum())}

    total = fixed_rounds if fixed_rounds is not None else max_rounds
    for _ in range(cur, total):
        out = _slice_superstep(eb, store, hi_of, cur, cur + 1, step,
                               "changed long", "lpa round", np.int64)
        cur += 1
        store.delete_vector(cur - 1)
        if fixed_rounds is None and int(out["changed"].sum()) == 0:
            break
    return _emit_slices(eb, store, hi_of, cur, "label long",
                        lambda ids, lab: np.asarray(ids)[lab])


def lpa_kernel(
    graph_or_blocks,
    max_rounds: int = 50,
    fixed_rounds: int | None = None,
    spill_dir: str | None = None,
    slice_store=None,
    resume: bool = False,
) -> DataFrame:
    """Deterministic synchronous LPA via CSR blocks. Returns ``(id, label)``
    — exactly ``operators/lpa.py``'s partition AND labels (vote multiset =
    canonical undirected edges both directions + one self-vote; winner =
    max count then min label; stop on no change or ``max_rounds``; the
    capped loop returns the last state rather than raising, matching the
    reference's no-convergence-contract for community detection).

    A Graph argument that fits the driver caps runs :func:`_driver_lpa_loop`
    over the canonical edge view :func:`_driver_graph_arrays` derives from
    one collect of its edges. Otherwise it builds the
    SHARED :func:`label_blocks` layout (also valid for :func:`cc_kernel`)
    file-backed under ``spill_dir`` (or a temp dir removed after the
    call), and :func:`_distributed_lpa_loop` keeps the labels in the slice
    store (driver O(num_blocks) — no vertex cap below int32 positions;
    measured 2.4x faster than a driver-assembled broadcast loop at 100M
    edges: 41.7 s vs 102.2 s for 3 rounds). Prebuilt :func:`label_blocks`
    run the driver loop when they fit, the slice-store loop otherwise."""

    def run(eb: EdgeBlocks) -> DataFrame:
        spark, n = eb.spark, eb.n
        if n == 0:
            return spark.createDataFrame([], "id long, label long")
        drv = _driver_blocks(eb, slice_store, resume)
        if drv is None:
            return _distributed_lpa_loop(
                eb, max_rounds, fixed_rounds, slice_store=slice_store,
                resume=resume,
            )
        ids, blks = drv
        return _driver_lpa_loop(spark, n, blks, ids, max_rounds, fixed_rounds)

    g = graph_or_blocks
    if isinstance(g, Graph) and (
        slice_store is None and not resume and spill_dir is None
    ):
        arrs = _driver_graph_arrays(g, "canonical_sym")
        if arrs is not None:
            ids, srcs, dsts = arrs
            return _driver_lpa_loop(
                g.edges.sparkSession, len(ids), [(0, srcs, dsts, None)], ids,
                max_rounds, fixed_rounds,
            )
    return with_blocks(g, lambda g_, d: label_blocks(g_, spill_dir=d), run,
                       spill_dir)
