"""CSR/Arrow kernels for katz / connected components / LPA supersteps.

Same physical strategy as ``operators/kernel.py``'s PageRank kernel (the
north-star design: per-partition CSR blocks, vectorized numpy
gather-scatter, ZERO shuffles per superstep) applied to the other
iterative operators. Each of ``katz_kernel``, ``cc_kernel`` and
``lpa_kernel`` has exactly two superstep loops with the same per-block
arithmetic, so their results are bit-identical:

- the driver loop (``_driver_katz_loop``/``_driver_cc_loop``/
  ``_driver_lpa_loop``) — the whole loop in numpy on the driver, no Spark
  job per superstep; taken when the graph or layout fits
  ``routing.fits_driver``. A Graph builds no block layout for them: each
  call reads its stored edge rows from :meth:`Graph.driver_layout`
  (collected at the first driver-route call on the handle, then kept)
  and derives its one dst-sorted block in numpy (katz through
  ``kernel.driver_block_arrays``, CC and LPA through
  ``_driver_graph_arrays``);
- the slice-store loop (``_distributed_*_loop``) — file-backed blocks
  above the driver caps, or any call with a ``slice_store``: tasks read
  the previous vector from the slice store and write their dst slice, so
  the vector never crosses the driver (driver state O(num_blocks), no
  vertex cap below int32 positions). A Graph above the caps is laid out
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

All accept a prebuilt :class:`EdgeBlocks` (amortize the layout) or a
Graph. Integer-label kernels (cc, lpa) are EXACTLY equal to the join path
(asserted in tests/test_kernel_algos.py); katz agrees to float rounding.
``eigenvector_kernel`` and ``hits_kernel`` broadcast a dense vector per
superstep (``_gather_once``) over in-memory blocks.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from metagraph_spark.exceptions import ConvergenceError
from metagraph_spark.graph import DST, SRC, Graph
from metagraph_spark.operators import kernel
from metagraph_spark.operators.kernel import (
    EdgeBlocks,
    LocalSliceStore,
    _driver_blocks,
    _open_block,
    _open_block_weights,
    build_edge_blocks,
    slice_ranges,
    with_blocks,
)

_IMAX = np.iinfo(np.int64).max


def _distributed_katz_loop(
    eb: EdgeBlocks,
    alpha: float,
    beta: float,
    total: int,
    tolerance: float,
    fixed_iterations: int | None,
    metrics_sink: list | None,
) -> DataFrame:
    """Fully distributed katz supersteps for file-backed blocks — the
    vector never crosses the driver (same slice-store protocol as
    ``kernel._distributed_superstep_loop``). Each task writes its dst slice
    ``α·gather + β`` and returns (err, Σnew²) partials; the L2 norm for the
    final normalization is the last superstep's Σnew² — no extra pass."""
    import os
    import uuid

    n = eb.n
    hi_of = slice_ranges(eb)
    weighted = eb.has_weights
    store = LocalSliceStore(
        os.path.join(eb.spill_dir, f"katz_{uuid.uuid4().hex[:12]}")
    )
    store.init_run()
    store.write_full(-1, np.zeros(n))
    err = sumsq = None
    for it in range(total):
        cur = it
        store.create_vector(cur, n)

        def step(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            prev = store.open_read(cur - 1)
            out_vec = store.open_write(cur)
            for pdf in batches:
                for _, row in pdf.iterrows():
                    path = row["path"]
                    srcs, dsts = _open_block(path)
                    lo = int(row["dst_lo"])
                    hi = hi_of[lo]
                    width = hi - lo
                    w = np.asarray(prev)[srcs]
                    if weighted:
                        w = w * np.asarray(_open_block_weights(path))
                    g = np.bincount(dsts, weights=w, minlength=width)[:width]
                    new_slice = alpha * g + beta
                    out_vec[lo:hi] = new_slice
                    yield pd.DataFrame(
                        {
                            "dst_lo": [np.int64(lo)],
                            "err": [
                                float(
                                    np.abs(
                                        new_slice - np.asarray(prev[lo:hi])
                                    ).sum()
                                )
                            ],
                            "sumsq": [float((new_slice * new_slice).sum())],
                        }
                    )
            store.flush(out_vec)

        out = eb.manifest.mapInPandas(
            step, schema="dst_lo long, err double, sumsq double"
        ).toPandas()
        if set(out["dst_lo"]) != set(hi_of):
            store.cleanup()
            raise RuntimeError("distributed katz superstep lost a slice")
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
            store.cleanup()
            raise ConvergenceError(
                f"katz failed to converge (err={err!r})"
            )
    norm = 1.0 / math.sqrt(sumsq) if sumsq and sumsq > 0 else 1.0
    ids_path = os.path.join(eb.spill_dir, "node_ids.npy")
    final_it = total - 1

    def emit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids = np.load(ids_path, mmap_mode="r")
        r = store.open_read(final_it)
        for pdf in batches:
            for _, row in pdf.iterrows():
                lo = int(row["dst_lo"])
                hi = hi_of[lo]
                yield pd.DataFrame(
                    {
                        "id": np.asarray(ids[lo:hi]),
                        "katz": np.asarray(r[lo:hi]) * norm,
                    }
                )

    from metagraph_spark.state import truncate_lineage

    result = truncate_lineage(
        eb.manifest.mapInPandas(emit, schema="id long, katz double")
    )
    store.cleanup()
    return result


def _block_arrays(row, file_backed: bool, weighted: bool):
    """(srcs, dsts_local, ws|None) for one manifest/blocks row."""
    if file_backed:
        srcs, dsts = _open_block(row["path"])
        ws = _open_block_weights(row["path"]) if weighted else None
    else:
        srcs = np.asarray(row["srcs"], dtype=np.int64)
        dsts = np.asarray(row["dsts"], dtype=np.int64)
        ws = np.asarray(row["ws"], dtype=np.float64) if weighted else None
    return srcs, dsts, ws


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
    """Katz supersteps over driver-resident block arrays: per-block
    bincount + slice accumulation, the slice-store loop's arithmetic, so
    values are bit-exact with it."""
    n = len(ids)
    if n == 0:
        return spark.createDataFrame([], "id long, katz double")
    x = np.zeros(n)
    err = None
    for it in range(total):
        g_vec = np.zeros(n)
        for lo, srcs, dsts, ws in blks:
            if len(srcs) == 0:
                continue
            w = x[srcs]
            if ws is not None:
                w = w * ws
            g = np.bincount(dsts, weights=w)
            g_vec[lo : lo + len(g)] += g
        new_x = alpha * g_vec + beta
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
    return spark.createDataFrame(
        pd.DataFrame({"id": np.asarray(ids), "katz": x * norm}),
        schema="id long, katz double",
    )


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


def _gather_once(source_df, file_backed, weighted, vec, n):
    """One dense ``Aᵀ·vec`` pass over the blocks (broadcast feed). Returns
    the assembled length-``n`` gather vector."""
    sc = source_df.sparkSession.sparkContext
    bc = sc.broadcast(vec)

    def gather(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = np.asarray(bc.value)
        for pdf in batches:
            for _, row in pdf.iterrows():
                srcs, dsts, ws = _block_arrays(row, file_backed, weighted)
                w = c[srcs]
                if ws is not None:
                    w = w * ws
                g = np.bincount(dsts, weights=w)
                yield pd.DataFrame(
                    {"dst_lo": [np.int64(row["dst_lo"])], "g": [g]}
                )

    out = source_df.mapInPandas(
        gather, schema="dst_lo long, g array<double>"
    ).toPandas()
    bc.unpersist()
    g_vec = np.zeros(n)
    for lo, g in zip(out["dst_lo"], out["g"]):
        g_vec[lo : lo + len(g)] += g
    return g_vec


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
    so converged runs take identical superstep counts."""

    def run(eb: EdgeBlocks) -> DataFrame:
        spark, n = eb.spark, eb.n
        if n == 0:
            return spark.createDataFrame([], "id long, eigenvector double")
        file_backed = eb.manifest is not None
        source_df = eb.manifest if file_backed else eb.blocks
        weighted = eb.has_weights
        xn = np.full(n, 1.0 / n)  # current NORMALIZED iterate
        total = (
            fixed_iterations if fixed_iterations is not None else maxiter + 1
        )
        for it in range(total):
            g = _gather_once(source_df, file_backed, weighted, xn, n)
            z = xn + g
            zn = math.sqrt(float((z * z).sum()))
            new_xn = z / zn if zn > 0 else z
            if fixed_iterations is None and it >= 1:
                err = float(np.abs(xn - new_xn).sum())
                if err < n * tolerance:
                    xn = new_xn
                    break
            xn = new_xn
        else:
            if fixed_iterations is None:
                raise ConvergenceError(
                    f"eigenvector failed to converge in {maxiter} iterations"
                )
        return spark.createDataFrame(
            pd.DataFrame({"id": np.asarray(eb.node_ids), "eigenvector": xn}),
            schema="id long, eigenvector double",
        )

    return with_blocks(
        graph_or_blocks, _weighted_build(graph_or_blocks), run,
        in_memory=True,
    )


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
    Builds TWO block layouts (forward for the authority gather, reversed
    for the hub gather) — the two mat-vecs are data-dependent, so two
    passes per superstep is the algorithmic minimum here too."""
    from metagraph_spark.exceptions import GraphPropertyError

    if not graph.is_directed:
        raise GraphPropertyError("hits requires a directed graph")
    from metagraph_spark.graph import WEIGHT

    spark = graph.edges.sparkSession
    weighted = graph.is_weighted
    e = graph.edges
    cols = [SRC, DST] + ([WEIGHT] if weighted else [])
    fwd_edges = e.select(*cols)
    rev_cols = [F.col(DST).alias(SRC), F.col(SRC).alias(DST)] + (
        [F.col(WEIGHT)] if weighted else []
    )
    rev_edges = e.select(*rev_cols)
    eb_f = build_edge_blocks(
        graph, edges=fwd_edges, with_weights=weighted, with_degrees=False
    )
    eb_r = build_edge_blocks(
        graph, edges=rev_edges, with_weights=weighted, with_degrees=False
    )
    try:
        n = eb_f.n
        if n == 0:
            empty_h = spark.createDataFrame([], "id long, hubs double")
            empty_a = spark.createDataFrame([], "id long, authority double")
            return empty_h, empty_a
        src_f = eb_f.blocks if eb_f.blocks is not None else eb_f.manifest
        src_r = eb_r.blocks if eb_r.blocks is not None else eb_r.manifest
        fb_f = eb_f.manifest is not None
        fb_r = eb_r.manifest is not None
        h = np.full(n, 1.0 / n)
        h_norm = 1.0
        a = np.zeros(n)
        a_norm = 1.0
        total = fixed_iterations if fixed_iterations is not None else maxiter
        converged = fixed_iterations is not None
        for _ in range(total):
            a = _gather_once(src_f, fb_f, weighted, h / h_norm, n)
            # join parity: Observation max(v) `or 1.0` — 0.0 falls back,
            # a negative max (negative weights) is kept as the divisor
            am = float(a.max())
            a_norm = am if am != 0.0 else 1.0
            h_prev_normed = h / h_norm
            h = _gather_once(src_r, fb_r, weighted, a / a_norm, n)
            hm = float(h.max())
            hmax = hm if hm != 0.0 else 1.0
            if fixed_iterations is None:
                err = float(np.abs(h / hmax - h_prev_normed).sum())
                h_norm = hmax
                if err < tolerance:
                    converged = True
                    break
            else:
                h_norm = hmax
        if not converged:
            raise ConvergenceError(
                f"hits failed to converge in {maxiter} iterations"
            )
        hv = h / h_norm
        av = a / a_norm
        if normalize:
            hv = hv / (float(hv.sum()) or 1.0)
            av = av / (float(av.sum()) or 1.0)
        ids = np.asarray(eb_f.node_ids)
        h_df = spark.createDataFrame(
            pd.DataFrame({"id": ids, "hubs": hv}), schema="id long, hubs double"
        )
        a_df = spark.createDataFrame(
            pd.DataFrame({"id": ids, "authority": av}),
            schema="id long, authority double",
        )
        return h_df, a_df
    finally:
        eb_f.unpersist()
        eb_r.unpersist()


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
    degree-free) — the layout is the dominant one-time cost at scale;
    build once, run many."""
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
    symmetrized edge set (VERDICT r4 #5). Build once, feed both kernels."""
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
    """Hash-min label exchange where the label vector NEVER crosses the
    driver: int64 label vectors live in the slice store (same protocol as
    the pagerank/katz distributed loops), each gather task writes its
    dst-slice minimum and returns a changed-count partial, and converged
    rounds append ONE pointer-doubling job (``J[lo:hi] = L[L[lo:hi]]`` over
    the mmap'd global vector) — O(log V) rounds, driver state
    O(num_blocks). No dense driver label array, so the cc kernel is
    capped only by int32 positions, like the file-backed pagerank route."""
    import os
    import uuid

    n = eb.n
    hi_of = slice_ranges(eb)
    store = slice_store
    if store is None:
        store = LocalSliceStore(
            os.path.join(eb.spill_dir, f"cc_{uuid.uuid4().hex[:12]}")
        )
    store.init_run()
    # durability: every committed label vector is a valid min-label state
    # (hash-min is monotone), so resume restarts from the NEWEST committed
    # vector — same marker protocol as the pagerank loop. Crashing between
    # a gather commit and its jump commit just loses the jump (an
    # optimization, not state); the round counter persists via put_meta
    # and at worst replays one gather, which is idempotent under min.
    durable = hasattr(store, "mark_complete") and hasattr(
        store, "latest_complete"
    )
    mode = "fixed" if fixed_rounds is not None else "converged"
    cur, rnd = 0, 0
    resumed = False
    if resume and durable:
        prior = store.get_meta() if hasattr(store, "get_meta") else None
        latest = store.latest_complete()
        if prior is not None and latest is not None:
            if prior.get("algo") != "cc" or prior.get("n") != n:
                raise ValueError(
                    "resume requested but the slice store holds a "
                    f"different run (stored {prior}, this run algo=cc "
                    f"n={n})"
                )
            if prior.get("mode", mode) != mode:
                # converged-mode vectors include pointer-jump commits, so
                # "vector index == round" does NOT hold across modes: a
                # fixed-round resume from a converged store would
                # overstate the completed rounds and unroll a different k
                # (ADVICE r5)
                raise ValueError(
                    "resume requested with "
                    f"{mode} rounds but the slice store holds a "
                    f"{prior.get('mode')!r}-mode run; finish it with the "
                    "same mode or start a fresh store"
                )
            # fixed-round runs never jump, so vector index == round and
            # the count is EXACT (oracle comparisons unroll a specific k);
            # converged runs take the persisted round counter, which can
            # lag one commit behind — replaying one gather is idempotent
            # under min and only consumes max_rounds slack
            cur = latest
            rnd = cur if fixed_rounds is not None else int(
                prior.get("round", 0)
            )
            resumed = True
    if not resumed:
        if hasattr(store, "put_meta"):
            store.put_meta({"algo": "cc", "n": n, "round": 0, "mode": mode})
        store.write_full(0, np.arange(n, dtype=np.int64))
        if durable:
            store.mark_complete(0)
    total = fixed_rounds if fixed_rounds is not None else max_rounds
    converged = fixed_rounds is not None
    while rnd < total:
        prev_idx, out_idx = cur, cur + 1
        store.create_vector(out_idx, n, dtype=np.int64)

        def gather(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            prev = store.open_read(prev_idx)
            out_vec = store.open_write(out_idx)
            for pdf in batches:
                for _, row in pdf.iterrows():
                    srcs, dsts = _open_block(row["path"])
                    lo = int(row["dst_lo"])
                    hi = hi_of[lo]
                    prev_slice = np.asarray(prev[lo:hi])
                    if len(srcs):
                        m = _segmented_min(
                            np.asarray(dsts), np.asarray(prev)[srcs]
                        )
                        new_slice = prev_slice.copy()
                        np.minimum(
                            new_slice[: len(m)], m, out=new_slice[: len(m)]
                        )
                    else:
                        new_slice = prev_slice
                    out_vec[lo:hi] = new_slice
                    yield pd.DataFrame(
                        {
                            "dst_lo": [np.int64(lo)],
                            "changed": [
                                int((new_slice != prev_slice).sum())
                            ],
                        }
                    )
            store.flush(out_vec)

        out = eb.manifest.mapInPandas(
            gather, schema="dst_lo long, changed long"
        ).toPandas()
        if set(out["dst_lo"]) != set(hi_of):
            store.cleanup()
            raise RuntimeError("distributed cc round lost a slice")
        changed = int(out["changed"].sum())
        if durable:
            store.mark_complete(out_idx)
        cur = out_idx
        rnd += 1
        if fixed_rounds is None and changed:
            # one pointer-doubling job per round: J = L[L] slice-wise over
            # the mmap'd global vector (valid min-label state; fixpoint
            # unchanged — components.py:96-118 argument)
            jmp_idx = cur + 1
            store.create_vector(jmp_idx, n, dtype=np.int64)
            src_idx = cur

            def jump(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                full = store.open_read(src_idx)
                out_vec = store.open_write(jmp_idx)
                for pdf in batches:
                    for _, row in pdf.iterrows():
                        lo = int(row["dst_lo"])
                        hi = hi_of[lo]
                        sl = np.asarray(full[lo:hi])
                        out_vec[lo:hi] = np.asarray(full)[sl]
                        yield pd.DataFrame({"dst_lo": [np.int64(lo)]})
                store.flush(out_vec)

            jout = eb.manifest.mapInPandas(
                jump, schema="dst_lo long"
            ).toPandas()
            if set(jout["dst_lo"]) != set(hi_of):
                store.cleanup()
                raise RuntimeError("distributed cc jump lost a slice")
            if durable:
                store.mark_complete(jmp_idx)
            cur = jmp_idx
        # drop everything older than the newest vector
        for old in range(max(0, cur - 3), cur):
            store.delete_vector(old)
        if durable and hasattr(store, "put_meta"):
            store.put_meta({"algo": "cc", "n": n, "round": rnd, "mode": mode})
        if fixed_rounds is None and changed == 0:
            converged = True
            break
    if fixed_rounds is None and not converged:
        store.cleanup()
        raise ConvergenceError(
            f"connected_components kernel did not stabilize in "
            f"{max_rounds} rounds"
        )
    ids_path = os.path.join(eb.spill_dir, "node_ids.npy")
    final_idx = cur

    def emit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids = np.load(ids_path, mmap_mode="r")
        lab = store.open_read(final_idx)
        for pdf in batches:
            for _, row in pdf.iterrows():
                lo = int(row["dst_lo"])
                hi = hi_of[lo]
                sl = np.asarray(lab[lo:hi])
                yield pd.DataFrame(
                    {
                        "id": np.asarray(ids[lo:hi]),
                        "label": np.asarray(ids)[sl],
                    }
                )

    from metagraph_spark.state import truncate_lineage

    result = truncate_lineage(
        eb.manifest.mapInPandas(emit, schema="id long, label long")
    )
    store.cleanup()
    return result


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
            if len(ids) == 0:
                return g.edges.sparkSession.createDataFrame(
                    [], "id long, label long"
                )
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
    ids = np.asarray(ids)
    return spark.createDataFrame(
        pd.DataFrame({"id": ids, "label": ids[lab]}),
        schema="id long, label long",
    )


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
    ids = np.asarray(ids)
    return spark.createDataFrame(
        pd.DataFrame({"id": ids, "label": ids[lab]}),
        schema="id long, label long",
    )


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
    """LPA rounds with the label vector in the slice store (never on the
    driver): each task computes its dst-range's modal votes and writes the
    slice directly — positions without a neighbor vote (isolated nodes)
    keep their previous label. One job per round, driver state
    O(num_blocks)."""
    import os
    import uuid

    n = eb.n
    hi_of = slice_ranges(eb)
    store = slice_store
    if store is None:
        store = LocalSliceStore(
            os.path.join(eb.spill_dir, f"lpa_{uuid.uuid4().hex[:12]}")
        )
    store.init_run()
    # durability (same marker protocol as the pagerank/CC loops): the LPA
    # vector index IS the round number (one vector per round, previous
    # deleted after commit), so resume restarts at round latest_complete()
    # and runs exactly the REMAINING rounds — deterministic sync LPA
    # replays bit-identically from any committed round
    durable = hasattr(store, "mark_complete") and hasattr(
        store, "latest_complete"
    )
    cur = 0
    resumed = False
    if resume and durable:
        prior = store.get_meta() if hasattr(store, "get_meta") else None
        latest = store.latest_complete()
        if prior is not None and latest is not None:
            if prior.get("algo") != "lpa" or prior.get("n") != n:
                raise ValueError(
                    "resume requested but the slice store holds a "
                    f"different run (stored {prior}, this run algo=lpa "
                    f"n={n})"
                )
            cur = latest
            resumed = True
    if not resumed:
        if hasattr(store, "put_meta"):
            store.put_meta({"algo": "lpa", "n": n})
        store.write_full(0, np.arange(n, dtype=np.int64))
        if durable:
            store.mark_complete(0)
    total = fixed_rounds if fixed_rounds is not None else max_rounds
    for rnd in range(cur, total):
        prev_idx, out_idx = cur, cur + 1
        store.create_vector(out_idx, n, dtype=np.int64)

        def step(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            prev = store.open_read(prev_idx)
            out_vec = store.open_write(out_idx)
            for pdf in batches:
                for _, row in pdf.iterrows():
                    srcs, dsts = _open_block(row["path"])
                    lo = int(row["dst_lo"])
                    hi = hi_of[lo]
                    prev_slice = np.asarray(prev[lo:hi])
                    new_slice = prev_slice.copy()
                    if len(srcs):
                        labs = np.asarray(prev)[srcs]
                        uniq, win = _mode_votes(dsts, labs, prev_slice)
                        new_slice[uniq] = win
                    changed = int(
                        (new_slice != prev_slice).sum()
                    )
                    out_vec[lo:hi] = new_slice
                    yield pd.DataFrame(
                        {"dst_lo": [np.int64(lo)], "changed": [changed]}
                    )
            store.flush(out_vec)

        out = eb.manifest.mapInPandas(
            step, schema="dst_lo long, changed long"
        ).toPandas()
        if set(out["dst_lo"]) != set(hi_of):
            store.cleanup()
            raise RuntimeError("distributed lpa round lost a slice")
        changed = int(out["changed"].sum())
        if durable:
            store.mark_complete(out_idx)
        cur = out_idx
        store.delete_vector(prev_idx)
        if fixed_rounds is None and changed == 0:
            break
    ids_path = os.path.join(eb.spill_dir, "node_ids.npy")
    final_idx = cur

    def emit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids = np.load(ids_path, mmap_mode="r")
        lab = store.open_read(final_idx)
        for pdf in batches:
            for _, row in pdf.iterrows():
                lo = int(row["dst_lo"])
                hi = hi_of[lo]
                sl = np.asarray(lab[lo:hi])
                yield pd.DataFrame(
                    {
                        "id": np.asarray(ids[lo:hi]),
                        "label": np.asarray(ids)[sl],
                    }
                )

    from metagraph_spark.state import truncate_lineage

    result = truncate_lineage(
        eb.manifest.mapInPandas(emit, schema="id long, label long")
    )
    store.cleanup()
    return result


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
            if len(ids) == 0:
                return g.edges.sparkSession.createDataFrame(
                    [], "id long, label long"
                )
            return _driver_lpa_loop(
                g.edges.sparkSession, len(ids), [(0, srcs, dsts, None)], ids,
                max_rounds, fixed_rounds,
            )
    return with_blocks(g, lambda g_, d: label_blocks(g_, spill_dir=d), run,
                       spill_dir)
