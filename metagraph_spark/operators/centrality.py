"""centrality.* beyond PageRank: katz, eigenvector, HITS, closeness,
betweenness (degree centrality lives in operators/utility.py).

Reference contracts (abstract defs ``plugins/core/algorithms/centrality.py``,
nx concrete impls ``plugins/networkx/algorithms.py`` — all WEIGHTED, unlike
pagerank):

- ``katz(Graph, attenuation_factor=0.01, immediate_neighbor_weight=1.0,
  maxiter=50, tolerance=1e-05) -> NodeMap`` (:16-23; nx :30-46):
  ``x' = α·Aᵀx + β``; converge on ``Σ|x'-x| < N·tol``; L2-normalize the
  result; ConvergenceError past maxiter. Golden values
  ``tests/algorithms/test_centrality.py:106-144``.
- ``eigenvector(Graph, maxiter=50, tolerance=1e-05) -> NodeMap`` (:48-53;
  nx :192-199): ``x' = x + Aᵀx`` then L2-normalize EVERY iteration;
  converge on ``Σ|x'-x| < N·tol``.
- ``hits(Graph(is_directed=True), maxiter=50, tolerance=1e-05,
  normalize=True) -> (hubs, authorities)`` (:57-69; nx :201-206):
  ``a = Aᵀh; h = A·a``; max-normalize both every iteration; converge on
  ``Σ|h'-h| < tol`` (NOT N-scaled — nx semantics); final sum-normalize.
- ``closeness(Graph(edge_type=map), Optional[NodeSet]) -> NodeMap``
  (:40-44; nx :175-190): weighted distances; wf-improved formula
  ``C(v) = ((r-1)/(n-1)) · ((r-1)/Σ_{u reachable to v} d(u,v))`` where r =
  #nodes that can reach v (v included). Physical plan: ONE multi-source
  Bellman-Ford relaxation with composite state (root, id, dist) — S·V state
  rows; full closeness is inherently all-pairs, callers MUST pass a NodeSet
  at scale (guarded).
- ``betweenness(Graph(edge_type=map), Optional[NodeSet], normalize=False)
  -> NodeMap`` (:7-12; nx :158-173 = Brandes subset): parallelized OVER
  SOURCES — the adjacency comes from the handle's positional layout
  (``Graph.sequential_layout``) as numpy CSR arrays, broadcast to every
  task, and an Arrow-batched grouped kernel (applyInPandas over source
  batches) runs weighted Brandes per source, summing dependency scores.
  Scales in #sources, requires the adjacency to fit per-task (guarded;
  exact betweenness at 10^12 edges is out of scope for any engine — the
  reference's is single-threaded nx).

Superstep discipline (matches operators/pagerank.py): vertex state carries
``prev``; L1 error AND the normalization scalar ride the materialization
action via ``DataFrame.observe`` — exactly ONE Spark job per superstep for
katz/eigenvector (two for HITS: its two mat-vecs are data-dependent). For
the normalized iterations (eigenvector, HITS) the state is kept
UN-normalized and the known driver-side norm scalars are folded into the
next superstep's column expressions as literals, so the error check lags
one superstep (one extra cheap superstep at convergence, never an extra
action per superstep).
"""

from __future__ import annotations

import math
from typing import Optional

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from metagraph_spark.exceptions import ConvergenceError, GraphPropertyError
from metagraph_spark.graph import DST, ID, SRC, WEIGHT, Graph
from metagraph_spark.operators import routing
from metagraph_spark.state import LineageManager, truncate_lineage


def _weighted_edges(graph: Graph) -> DataFrame:
    e = graph.symmetrized()
    if not graph.is_weighted:
        e = e.withColumn(WEIGHT, F.lit(1.0))
    return e.select(SRC, DST, WEIGHT)


def katz_centrality(
    graph: Graph,
    attenuation_factor: float = 0.01,
    immediate_neighbor_weight: float = 1.0,
    maxiter: int = 50,
    tolerance: float = 1e-05,
    fixed_iterations: int | None = None,
    strategy: str = "auto",
    kernel_spill_dir: str | None = None,
) -> DataFrame:
    """Returns ``(id, katz)``. One Spark job per superstep: the gather join
    feeds a state materialization whose ``observe`` carries both the L1
    error and ``Σv²`` (so the final L2 normalization needs no extra pass).

    ``fixed_iterations`` runs exactly k supersteps with no convergence test
    (oracle parity — the DuckDB side unrolls the same k updates).

    ``strategy``: ``"auto"`` (default — the route :func:`routing.plan`
    picks: the weighted CSR kernel on the driver below the driver caps,
    its file-backed slice-store loop above them, the join plan past the
    auto edge cap), ``"join"`` (iterative DataFrame joins — scales to any
    V), or ``"kernel"`` (``operators/kernel_algos.py:katz_kernel`` at any
    size; ``kernel_spill_dir`` lays its blocks out as files there).
    Identical update rule, asserted by shared tests."""
    route, _ = routing.plan(
        "katz", graph, strategy, spill_dir=kernel_spill_dir
    )
    if route.startswith("kernel"):
        from metagraph_spark.operators.kernel_algos import katz_kernel

        return katz_kernel(
            graph,
            attenuation_factor=attenuation_factor,
            immediate_neighbor_weight=immediate_neighbor_weight,
            maxiter=maxiter,
            tolerance=tolerance,
            fixed_iterations=fixed_iterations,
            spill_dir=kernel_spill_dir,
        )
    spark = graph.edges.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    n = graph.num_nodes()
    nodes = graph.node_ids()
    alpha, beta = attenuation_factor, immediate_neighbor_weight
    lineage = LineageManager()
    if fixed_iterations is not None and routing.fits_broadcast(n):
        # Fixed-superstep fast path (guide §2.4/§3.1): the edge cache is
        # keyed by DST and the |V|-row state BROADCAST into the gather
        # join, so the per-superstep aggregation is partition-local and
        # the whole superstep is ONE shuffle-free stage (plan-asserted in
        # tests). No convergence test -> no per-superstep observe, and no
        # merge-back join either: every node with an in-edge appears in
        # the gather, the rest sit at the constant β (α·g+β ≡
        # α·coalesce(g,0)+β for covered rows, β ≡ α·0+β for the rest —
        # bit-identical to the merge-join form the oracle unrolls).
        # Broadcasting V rows per superstep stops being reasonable past
        # routing.fits_broadcast; larger graphs take the shuffle loop
        # below.
        edges = _weighted_edges(graph).repartition(n_part, DST).persist()
        edges.count()  # materialize so round plans see the DST layout
        nodes_m = truncate_lineage(nodes)
        state = truncate_lineage(
            nodes_m.select(ID, F.lit(0.0).alias("v"))
        )
        no_in = truncate_lineage(
            nodes_m.join(
                edges.select(F.col(DST).alias(ID)).distinct(), ID, "left_anti"
            ).select(ID, F.lit(float(beta)).alias("v"))
        )
        for _ in range(fixed_iterations):
            gather = (
                edges.join(
                    F.broadcast(state.select(F.col(ID).alias(SRC), "v")),
                    SRC,
                )
                .groupBy(F.col(DST).alias(ID))
                .agg(F.sum(F.col("v") * F.col(WEIGHT)).alias("g"))
            )
            state = truncate_lineage(
                gather.select(
                    ID, (F.lit(alpha) * F.col("g") + F.lit(beta)).alias("v")
                ).unionAll(no_in)
            )
        row = state.agg(F.sum(F.col("v") * F.col("v")).alias("s")).collect()[0]
        sumsq = row["s"]
        norm = 1.0 / math.sqrt(sumsq) if sumsq and sumsq > 0 else 1.0
        out = state.select(ID, (F.col("v") * F.lit(norm)).alias("katz"))
        edges.unpersist()
        return out
    edges = _weighted_edges(graph).repartition(n_part, SRC).persist()
    state = truncate_lineage(
        nodes.select(ID, F.lit(0.0).alias("v")).repartition(n_part, ID)
    )
    if fixed_iterations is not None:
        # large-graph fixed path: same superstep plan as the convergence
        # loop, minus the error observe (no convergence test needed)
        for _ in range(fixed_iterations):
            gather = (
                edges.join(
                    state.select(F.col(ID).alias(SRC), "v").hint(
                        "shuffle_hash"
                    ),
                    SRC,
                )
                .groupBy(F.col(DST).alias(ID))
                .agg(F.sum(F.col("v") * F.col(WEIGHT)).alias("g"))
            )
            new_state = (
                state.select(ID)
                .join(gather.hint("shuffle_hash"), ID, "left")
                .select(
                    ID,
                    (
                        F.lit(alpha) * F.coalesce("g", F.lit(0.0))
                        + F.lit(beta)
                    ).alias("v"),
                )
            )
            state = lineage.materialize(new_state)
        row = state.agg(F.sum(F.col("v") * F.col("v")).alias("s")).collect()[0]
        sumsq = row["s"]
        norm = 1.0 / math.sqrt(sumsq) if sumsq and sumsq > 0 else 1.0
        out = lineage.finalize(state).select(
            ID, (F.col("v") * F.lit(norm)).alias("katz")
        )
        edges.unpersist()
        return out
    total = maxiter
    sumsq = None
    for it in range(total):
        # shuffle_hash: hash-build the |V|-row vertex side instead of
        # SMJ-sorting the persisted src-partitioned |E|-row edge cache
        # every superstep (see operators/pagerank.py — measured 25-40%)
        gather = (
            edges.join(
                state.select(F.col(ID).alias(SRC), "v").hint("shuffle_hash"),
                SRC,
            )
            .groupBy(F.col(DST).alias(ID))
            .agg(F.sum(F.col("v") * F.col(WEIGHT)).alias("g"))
        )
        new_state = (
            state.select(ID, F.col("v").alias("prev"))
            .join(gather.hint("shuffle_hash"), ID, "left")
            .select(
                ID,
                (
                    F.lit(alpha) * F.coalesce("g", F.lit(0.0)) + F.lit(beta)
                ).alias("v"),
                "prev",
            )
        )
        obs = Observation(f"katz_iter_{it}")
        new_state = new_state.observe(
            obs,
            F.sum(F.abs(F.col("v") - F.col("prev"))).alias("err"),
            F.sum(F.col("v") * F.col("v")).alias("sumsq"),
        )
        new_state = lineage.materialize(new_state.select(ID, "v"))
        stats = obs.get
        err, sumsq = stats["err"], stats["sumsq"]
        state = new_state
        if fixed_iterations is None and err < n * tolerance:
            break
    else:
        if fixed_iterations is None:
            lineage.release()
            edges.unpersist()
            raise ConvergenceError(
                f"katz failed to converge in {maxiter} iterations"
            )
    norm = 1.0 / math.sqrt(sumsq) if sumsq and sumsq > 0 else 1.0
    out = lineage.finalize(state).select(
        ID, (F.col("v") * F.lit(norm)).alias("katz")
    )
    edges.unpersist()
    return out


def eigenvector_centrality(
    graph: Graph,
    maxiter: int = 50,
    tolerance: float = 1e-05,
    fixed_iterations: int | None = None,
    strategy: str = "auto",
) -> DataFrame:
    """Returns ``(id, eigenvector)``.

    State is the UN-normalized ``x + Aᵀx`` accumulation; each superstep's
    materialization observes ``Σz²`` (→ this iteration's L2 norm) and the
    LAGGED error ``Σ|z/‖z‖ − z_prev/‖z_prev‖|`` using the two known norm
    scalars as literals — one job per superstep, error one superstep late
    (worst case one extra superstep past convergence, same fixpoint).

    ``strategy="kernel"``/``"auto"`` routes to the CSR-block kernel
    (``kernel_algos.py:eigenvector_kernel``, same superstep schedule) as
    :func:`routing.plan` decides: ``kernel-driver``, a numpy loop over the
    Graph's driver layout within the driver caps, or ``kernel-distributed``,
    one slice-store job per superstep over file-backed blocks in a temp
    dir above them."""
    route, _ = routing.plan("eigenvector", graph, strategy)
    if route.startswith("kernel"):
        from metagraph_spark.operators.kernel_algos import eigenvector_kernel

        return eigenvector_kernel(
            graph,
            maxiter=maxiter,
            tolerance=tolerance,
            fixed_iterations=fixed_iterations,
        )
    spark = graph.edges.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    edges = _weighted_edges(graph).repartition(n_part, SRC).persist()
    n = graph.num_nodes()
    nodes = graph.node_ids()
    # state columns: v = UN-normalized iteration-k value, pv = UN-normalized
    # iteration-(k-1) value; normalized value = v / cur_norm (driver scalar)
    state = truncate_lineage(
        nodes.select(
            ID, F.lit(1.0 / n).alias("v"), F.lit(1.0 / n).alias("pv")
        ).repartition(n_part, ID)
    )
    lineage = LineageManager()
    cur_norm = 1.0  # ‖state.v‖₂ (initial uniform vector has ‖x‖ folded in)
    prev_norm = 1.0  # ‖state.pv‖₂
    total = fixed_iterations if fixed_iterations is not None else maxiter + 1
    for it in range(total):
        # gather over NORMALIZED current values: v/cur_norm folded as literal
        gather = (
            edges.join(
                state.select(
                    F.col(ID).alias(SRC),
                    (F.col("v") / F.lit(cur_norm)).alias("nv"),
                ).hint("shuffle_hash"),
                SRC,
            )
            .groupBy(F.col(DST).alias(ID))
            .agg(F.sum(F.col("nv") * F.col(WEIGHT)).alias("g"))
        )
        new_state = (
            state.select(ID, F.col("v").alias("pv"))
            .join(gather.hint("shuffle_hash"), ID, "left")
            .select(
                ID,
                (
                    F.col("pv") / F.lit(cur_norm)
                    + F.coalesce("g", F.lit(0.0))
                ).alias("v"),
                "pv",
            )
        )
        obs = Observation(f"eig_iter_{it}")
        # the observation rides the materialization: Σv² gives this
        # iteration's L2 norm with no extra pass
        new_state = new_state.observe(
            obs, F.sum(F.col("v") * F.col("v")).alias("sumsq")
        )
        new_state = lineage.materialize(new_state)
        sumsq = obs.get["sumsq"]
        new_norm = math.sqrt(sumsq) if sumsq and sumsq > 0 else 1.0
        if fixed_iterations is None and it >= 1:
            # L1 error needs BOTH norms, and new_norm only exists after the
            # job — so it's a tiny scan of the just-cached vertex state
            # (no joins, no recompute), not a second heavy superstep pass
            err = (
                new_state.agg(
                    F.sum(
                        F.abs(
                            F.col("pv") / F.lit(cur_norm)
                            - F.col("v") / F.lit(new_norm)
                        )
                    )
                ).collect()[0][0]
            )
            if err is not None and err < n * tolerance:
                out = lineage.finalize(new_state).select(
                    ID, (F.col("v") / F.lit(new_norm)).alias("eigenvector")
                )
                edges.unpersist()
                return out
        prev_norm, cur_norm = cur_norm, new_norm
        state = new_state
    if fixed_iterations is not None:
        out = lineage.finalize(state).select(
            ID, (F.col("v") / F.lit(cur_norm)).alias("eigenvector")
        )
        edges.unpersist()
        return out
    lineage.release()
    edges.unpersist()
    raise ConvergenceError(
        f"eigenvector failed to converge in {maxiter} iterations"
    )


def hits_centrality(
    graph: Graph,
    maxiter: int = 50,
    tolerance: float = 1e-05,
    normalize: bool = True,
    fixed_iterations: int | None = None,
    strategy: str = "auto",
) -> tuple[DataFrame, DataFrame]:
    """Returns ``(hubs, authorities)`` NodeMaps ``(id, hubs)/(id, authority)``.

    Two Spark jobs per superstep — the algorithmic minimum, since
    ``a = Aᵀh`` and ``h = A·a`` are data-dependent. Each materialization's
    ``observe`` carries the max (for normalization, folded into the NEXT
    expression as a literal) and the h-side L1 error vs the carried ``prev``
    column (both sides' norms known by then — no separate stats jobs).

    ``strategy="kernel"``/``"auto"`` routes to the CSR kernel
    (``kernel_algos.py:hits_kernel``) as :func:`routing.plan` decides:
    ``kernel-driver``, a numpy loop over a forward and a reversed view of
    the Graph's driver layout within the driver caps, or
    ``kernel-distributed``, two slice-store jobs per superstep over
    forward and reversed file-backed blocks in a temp dir above them."""
    if not graph.is_directed:
        raise GraphPropertyError("hits requires a directed graph")
    if fixed_iterations is not None and fixed_iterations < 1:
        raise ValueError("hits needs fixed_iterations >= 1: the first "
                         "superstep computes the authorities")
    route, _ = routing.plan("hits", graph, strategy)
    if route.startswith("kernel"):
        from metagraph_spark.operators.kernel_algos import hits_kernel

        return hits_kernel(
            graph,
            maxiter=maxiter,
            tolerance=tolerance,
            normalize=normalize,
            fixed_iterations=fixed_iterations,
        )
    spark = graph.edges.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    edges = _weighted_edges(graph).repartition(n_part, SRC).persist()
    n = graph.num_nodes()
    nodes = truncate_lineage(graph.node_ids().repartition(n_part, ID))
    # h holds UN-normalized values; normalized = v / h_norm (driver scalar)
    h = truncate_lineage(
        nodes.select(ID, F.lit(1.0 / n).alias("v")).repartition(n_part, ID)
    )
    h_norm = 1.0
    lin_a, lin_h = LineageManager(), LineageManager()
    a = None
    a_norm = 1.0
    err = None
    total = fixed_iterations if fixed_iterations is not None else maxiter
    converged = fixed_iterations is not None
    for it in range(total):
        # authorities: gather hub scores along edges (src -> dst)
        a_new = (
            nodes.join(
                edges.join(
                    h.select(
                        F.col(ID).alias(SRC),
                        (F.col("v") / F.lit(h_norm)).alias("nv"),
                    ).hint("shuffle_hash"),
                    SRC,
                )
                .groupBy(F.col(DST).alias(ID))
                .agg(F.sum(F.col("nv") * F.col(WEIGHT)).alias("g")),
                ID,
                "left",
            )
            .select(ID, F.coalesce("g", F.lit(0.0)).alias("v"))
        )
        obs_a = Observation(f"hits_a_{it}")
        a_new = a_new.observe(obs_a, F.max("v").alias("amax"))
        a = lin_a.materialize(a_new)
        a_norm = obs_a.get["amax"] or 1.0
        # hubs: gather authority scores along reversed edges; carry prev h
        h_new = (
            h.select(ID, (F.col("v") / F.lit(h_norm)).alias("prev"))
            .join(
                edges.join(
                    a.select(
                        F.col(ID).alias(DST),
                        (F.col("v") / F.lit(a_norm)).alias("nv"),
                    ).hint("shuffle_hash"),
                    DST,
                )
                .groupBy(F.col(SRC).alias(ID))
                .agg(F.sum(F.col("nv") * F.col(WEIGHT)).alias("g")),
                ID,
                "left",
            )
            .select(ID, F.coalesce("g", F.lit(0.0)).alias("v"), "prev")
        )
        obs_h = Observation(f"hits_h_{it}")
        h_new = h_new.observe(obs_h, F.max("v").alias("hmax"))
        h_next = lin_h.materialize(h_new)
        hmax = obs_h.get["hmax"] or 1.0
        if fixed_iterations is None:
            # err over normalized h vs prev normalized h — hmax known now;
            # one tiny agg over the cached state
            err = h_next.agg(
                F.sum(F.abs(F.col("v") / F.lit(hmax) - F.col("prev")))
            ).collect()[0][0]
        h, h_norm = h_next, hmax
        if fixed_iterations is None and err is not None and err < tolerance:
            converged = True
            break
    if not converged:
        lin_a.release()
        lin_h.release()
        edges.unpersist()
        raise ConvergenceError(f"hits failed to converge in {maxiter} iterations")
    h = lin_h.finalize(h).select(ID, (F.col("v") / F.lit(h_norm)).alias("v"))
    a = lin_a.finalize(a).select(ID, (F.col("v") / F.lit(a_norm)).alias("v"))
    if normalize:
        hs = h.agg(F.sum("v")).collect()[0][0] or 1.0
        asum = a.agg(F.sum("v")).collect()[0][0] or 1.0
        h = h.select(ID, (F.col("v") / F.lit(hs)).alias("hubs"))
        a = a.select(ID, (F.col("v") / F.lit(asum)).alias("authority"))
    else:
        h = h.withColumnRenamed("v", "hubs")
        a = a.withColumnRenamed("v", "authority")
    edges.unpersist()
    return h, a


def _multi_source_distances(
    graph: Graph, sources: DataFrame, reverse: bool, max_rounds: int | None = None
) -> DataFrame:
    """Multi-source weighted relaxation → ``(root, id, dist)`` over pairs
    with a path root→id (or id→root when ``reverse``). One iterative loop
    relaxes ALL roots simultaneously — state is (S·reached) rows."""
    edges = _weighted_edges(graph)
    if reverse:
        edges = edges.select(
            F.col(DST).alias(SRC), F.col(SRC).alias(DST), WEIGHT
        )
    edges = edges.persist()
    state = truncate_lineage(
        sources.select(
            F.col(ID).alias("root"), F.col(ID), F.lit(0.0).alias("dist")
        )
    )
    limit = max_rounds if max_rounds is not None else graph.num_nodes() + 1
    for _ in range(limit):
        cand = (
            edges.join(
                state.select("root", F.col(ID).alias(SRC), F.col("dist").alias("_d")),
                SRC,
            )
            .select(
                "root",
                F.col(DST).alias(ID),
                (F.col("_d") + F.col(WEIGHT)).alias("dist"),
            )
        )
        merged = (
            state.unionAll(cand)
            .groupBy("root", ID)
            .agg(F.min("dist").alias("dist"))
        )
        merged = truncate_lineage(merged)
        improved = (
            merged.join(
                state.select("root", ID, F.col("dist").alias("_old")),
                ["root", ID],
                "left",
            )
            .filter(F.col("_old").isNull() | (F.col("dist") < F.col("_old")))
            .count()
        )
        state.unpersist()
        state = merged
        if improved == 0:
            edges.unpersist()
            return state
    edges.unpersist()
    raise ConvergenceError("multi-source relaxation did not converge")


def all_pairs_shortest_paths(
    graph: Graph, sources: DataFrame
) -> DataFrame:
    """``traversal.all_pairs_shortest_paths`` restricted to a bounded source
    NodeSet (reference: scipy all-pairs dijkstra,
    ``plugins/scipy/algorithms.py:32-49``; full all-pairs has O(V²) output —
    this exposes the same distances for ``sources`` × reachable-nodes).

    Returns ``(src, dst, dist)``; unreachable pairs are absent (the scipy
    reference encodes them as +inf — callers outer-join if needed)."""
    d = _multi_source_distances(graph, sources, reverse=False)
    return d.select(
        F.col("root").alias(SRC), F.col(ID).alias(DST), F.col("dist")
    )


def closeness_centrality(
    graph: Graph,
    nodes: Optional[DataFrame] = None,
    max_rounds: int | None = None,
) -> DataFrame:
    """Returns ``(id, closeness)`` for ``nodes`` (default: all nodes —
    guarded, since state is S·V rows; pass a NodeSet subset at scale)."""
    if graph.has_negative_weights():
        raise GraphPropertyError("closeness requires non-negative weights")
    n = graph.num_nodes()
    if nodes is None and n > routing.CLOSENESS_ALL_NODES_LIMIT:
        raise GraphPropertyError(
            f"closeness over all {n} nodes needs O(V^2) relaxation state; "
            f"pass an explicit NodeSet subset (limit "
            f"{routing.CLOSENESS_ALL_NODES_LIMIT})"
        )
    targets = nodes.select(ID) if nodes is not None else graph.node_ids()
    # distances of paths u -> v for target v: relax on REVERSED edges from v
    dists = _multi_source_distances(graph, targets, reverse=True, max_rounds=max_rounds)
    agg = dists.groupBy("root").agg(
        F.sum("dist").alias("total"), F.count(F.lit(1)).alias("r")
    )
    # r includes the root itself (dist 0); wf-improved formula
    return agg.select(
        F.col("root").alias(ID),
        F.when(
            (F.col("r") > 1) & (F.col("total") > 0),
            ((F.col("r") - 1) * (F.col("r") - 1))
            / (F.lit(float(n - 1)) * F.col("total")),
        )
        .otherwise(F.lit(0.0))
        .alias("closeness"),
    )


def _betweenness_scale(
    out: DataFrame, nv: int, is_directed: bool, normalize: bool
) -> DataFrame:
    """Shared final scaling: nx divides undirected scores by 2 (each pair
    counted from both endpoints); ``normalize`` rescales by the pair
    count."""
    if normalize and nv > 2:
        scale = (
            1.0 / ((nv - 1) * (nv - 2))
            if is_directed
            else 2.0 / ((nv - 1) * (nv - 2))
        )
        return out.select(
            ID, (F.col("betweenness") * F.lit(scale)).alias("betweenness")
        )
    if not is_directed:
        return out.select(
            ID, (F.col("betweenness") / F.lit(2.0)).alias("betweenness")
        )
    return out


def _betweenness_distributed(
    graph: Graph,
    nodes: Optional[DataFrame],
    normalize: bool,
    batch_size: int = 32,
    max_sources: int = 4096,
) -> DataFrame:
    """Distributed UNWEIGHTED subset-Brandes (nx
    ``betweenness_centrality_subset`` with sources == targets == ``nodes``,
    reference ``plugins/networkx/algorithms.py:158-173``) with no broadcast
    adjacency and no O(V) driver state — the scale path past the kernel's
    ``routing.BETWEENNESS_MAX_EDGES`` guard.

    Shape: sources are processed in batches of ``batch_size``. Per batch,
    a multi-source BFS carries ``(root, id, dist, sigma)`` vertex state
    (sigma = shortest-path counts, summed across same-depth discoveries);
    the frontier size rides the materialization action via ``observe`` so
    each BFS level is ONE job. Dependency accumulation then runs as
    per-depth BACKWARD sweeps over the implicit BFS DAG: an edge u→w is a
    DAG edge iff dist[u]+1 == dist[w], so no predecessor lists are ever
    stored — each sweep joins the depth-d delta rows with reversed edges
    and the depth-(d-1) state. Total jobs per batch ≈ 2·(BFS depth).

    Driver-side state is scalars only; per-batch distributed state is
    O(batch_size · reached) rows. Betweenness over ALL sources of a huge
    graph is inherently all-pairs — ``max_sources`` refuses it loudly
    (sample sources instead; that is the reference contract's use shape).
    """
    spark = graph.edges.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    edges = (
        graph.symmetrized()
        .select(SRC, DST)
        .distinct()
        .repartition(n_part, SRC)
        .persist()
    )
    # backward sweeps probe by DAG-edge HEAD (dst); keep a dst-partitioned
    # mirror so both join directions are co-located with their shuffle key
    redges = edges.select(
        F.col(SRC).alias("_u"), F.col(DST).alias("_w")
    ).repartition(n_part, "_w").persist()
    node_ids = graph.node_ids()
    sources = (
        nodes.select(ID).distinct() if nodes is not None else node_ids
    ).persist()
    n_src = sources.count()
    if n_src > max_sources:
        sources.unpersist()
        edges.unpersist()
        redges.unpersist()
        raise GraphPropertyError(
            f"distributed betweenness over {n_src} sources would run "
            f"{n_src} BFS passes; sample sources (<= max_sources="
            f"{max_sources}) — exact all-sources betweenness at this scale "
            f"is out of reach for any engine"
        )
    if nodes is not None:
        n_valid = sources.join(node_ids, ID, "left_semi").count()
        if n_valid != n_src:
            missing = (
                sources.join(node_ids, ID, "left_anti").limit(10).collect()
            )
            sources.unpersist()
            edges.unpersist()
            redges.unpersist()
            raise GraphPropertyError(
                f"betweenness sources not in graph: "
                f"{[r[ID] for r in missing]}"
            )
    # targets == sources (subset semantics): membership flag joined once
    targets = sources.select(ID, F.lit(True).alias("_t"))
    n_batches = max(1, -(-n_src // batch_size))
    acc: DataFrame | None = None
    for b in range(n_batches):
        batch = sources.filter(
            F.pmod(F.xxhash64(F.col(ID)), F.lit(n_batches)) == b
        )
        settled = truncate_lineage(
            batch.select(
                F.col(ID).alias("root"),
                F.col(ID),
                F.lit(0).alias("dist"),
                F.lit(1.0).alias("sigma"),
            )
        )
        frontier = settled
        maxd = 0
        for d in range(1, graph.num_nodes() + 2):
            cand = (
                frontier.select("root", F.col(ID).alias(SRC), "sigma")
                .join(edges, SRC)
                .groupBy("root", F.col(DST).alias(ID))
                .agg(F.sum("sigma").alias("sigma"))
            )
            new_frontier = cand.join(
                settled.select("root", ID), ["root", ID], "left_anti"
            ).select("root", ID, F.lit(d).alias("dist"), "sigma")
            obs = Observation(f"bc_bfs_{b}_{d}")
            new_frontier = truncate_lineage(
                new_frontier.observe(obs, F.count(F.lit(1)).alias("n"))
            )
            if obs.get["n"] == 0:
                break
            maxd = d
            settled = truncate_lineage(settled.unionAll(new_frontier))
            frontier = new_frontier
        # backward per-depth dependency sweeps
        st = settled.join(targets, ID, "left")
        delta_d: DataFrame | None = None  # (root, id, delta) at depth d
        batch_deltas: list[DataFrame] = []
        for d in range(maxd, 0, -1):
            rows_d = st.filter(F.col("dist") == d)
            if delta_d is not None:
                rows_d = rows_d.join(delta_d, ["root", ID], "left")
            else:
                rows_d = rows_d.withColumn("delta", F.lit(0.0))
            rows_d = rows_d.select(
                "root",
                ID,
                "sigma",
                (
                    F.coalesce("delta", F.lit(0.0))
                    + F.when(F.col("_t"), F.lit(1.0)).otherwise(F.lit(0.0))
                ).alias("coeff"),
            )
            contrib = (
                rows_d.join(redges, rows_d[ID] == redges["_w"])
                .select(
                    "root",
                    F.col("_u").alias(ID),
                    (F.col("coeff") / F.col("sigma")).alias("_cw"),
                )
                .join(
                    st.filter(F.col("dist") == d - 1).select(
                        "root", ID, F.col("sigma").alias("_su")
                    ),
                    ["root", ID],
                )
                .groupBy("root", ID)
                .agg(F.sum(F.col("_cw") * F.col("_su")).alias("delta"))
            )
            delta_d = truncate_lineage(contrib)
            batch_deltas.append(delta_d)
        if batch_deltas:
            from functools import reduce

            batch_scores = (
                reduce(DataFrame.unionAll, batch_deltas)
                .filter(F.col(ID) != F.col("root"))
                .groupBy(ID)
                .agg(F.sum("delta").alias("betweenness"))
            )
            acc = (
                batch_scores
                if acc is None
                else truncate_lineage(
                    acc.unionAll(batch_scores)
                    .groupBy(ID)
                    .agg(F.sum("betweenness").alias("betweenness"))
                )
            )
    nv = graph.num_nodes()
    base = node_ids.join(acc, ID, "left") if acc is not None else (
        node_ids.withColumn("betweenness", F.lit(0.0))
    )
    out = base.select(
        ID, F.coalesce("betweenness", F.lit(0.0)).alias("betweenness")
    )
    out = truncate_lineage(_betweenness_scale(out, nv, graph.is_directed, normalize))
    sources.unpersist()
    edges.unpersist()
    redges.unpersist()
    return out


def _betweenness_distributed_weighted(
    graph: Graph,
    nodes: Optional[DataFrame],
    normalize: bool,
    batch_size: int = 32,
    max_sources: int = 4096,
) -> DataFrame:
    """Distributed WEIGHTED subset-Brandes (nx
    ``betweenness_centrality_subset`` with ``weight="weight"``, reference
    ``plugins/networkx/algorithms.py:158-173``) — no broadcast adjacency,
    no O(V) driver state. The weighted analog of
    :func:`_betweenness_distributed`, for weighted graphs past the
    broadcast-CSR guard.

    Per source batch, three phases, each one-job-per-round:

    1. **Distances** — multi-source Bellman-Ford carrying
       ``(root, id, dist)`` (the ``_multi_source_distances`` recurrence,
       inlined over the batch-shared persisted edge layout).
    2. **DAG levels + path counts** — the shortest-path DAG is IMPLICIT:
       edge u→w is a DAG edge iff ``dist[u] + w(u,w) == dist[w]`` (exact
       float equality, the same comparison networkx's Dijkstra uses when
       merging equal-distance paths — both engines therefore agree
       wherever weight sums round identically, e.g. integer-valued
       weights). ``sigma``/``level`` settle by fixpoint recompute:
       ``sigma(v) = Σ sigma(u)``, ``level(v) = max(level(u)) + 1`` over
       DAG in-edges — DAG-depth rounds, change count observed on the
       materialization.
    3. **Backward sweeps by LEVEL** (longest-path layering — a
       topological order; weighted DAG edges can SKIP levels, so pending
       dependency mass lives in a ``(root, id, delta)`` table consumed
       when its node's level is reached, rather than the BFS variant's
       single next-depth delta).

    ``max_sources`` refuses exact all-sources runs loudly, as in the
    unweighted path."""
    spark = graph.edges.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if graph.has_negative_weights():
        raise GraphPropertyError(
            "betweenness requires non-negative weights"
        )
    edges = (
        _weighted_edges(graph)
        .groupBy(SRC, DST)
        .agg(F.min(WEIGHT).alias(WEIGHT))  # parallel edges: shortest wins
        .repartition(n_part, SRC)
        .persist()
    )
    redges = edges.select(
        F.col(SRC).alias("_u"), F.col(DST).alias("_w"), F.col(WEIGHT).alias("_ew")
    ).repartition(n_part, "_w").persist()
    node_ids = graph.node_ids()
    sources = (
        nodes.select(ID).distinct() if nodes is not None else node_ids
    ).persist()
    n_src = sources.count()
    if n_src > max_sources:
        sources.unpersist()
        edges.unpersist()
        redges.unpersist()
        raise GraphPropertyError(
            f"distributed betweenness over {n_src} sources would run "
            f"{n_src} relaxation passes; sample sources (<= max_sources="
            f"{max_sources})"
        )
    if nodes is not None:
        n_valid = sources.join(node_ids, ID, "left_semi").count()
        if n_valid != n_src:
            missing = (
                sources.join(node_ids, ID, "left_anti").limit(10).collect()
            )
            sources.unpersist()
            edges.unpersist()
            redges.unpersist()
            raise GraphPropertyError(
                f"betweenness sources not in graph: "
                f"{[r[ID] for r in missing]}"
            )
    targets = sources.select(ID, F.lit(True).alias("_t"))
    n_batches = max(1, -(-n_src // batch_size))
    acc: DataFrame | None = None
    for bno in range(n_batches):
        batch = sources.filter(
            F.pmod(F.xxhash64(F.col(ID)), F.lit(n_batches)) == bno
        )
        # -- phase 1: weighted distances (Bellman-Ford to fixpoint)
        dist = truncate_lineage(
            batch.select(
                F.col(ID).alias("root"), F.col(ID), F.lit(0.0).alias("dist")
            )
        )
        for _ in range(graph.num_nodes() + 1):
            cand = (
                edges.join(
                    dist.select(
                        "root", F.col(ID).alias(SRC), F.col("dist").alias("_d")
                    ),
                    SRC,
                )
                .select(
                    "root",
                    F.col(DST).alias(ID),
                    (F.col("_d") + F.col(WEIGHT)).alias("dist"),
                )
            )
            merged = (
                dist.unionAll(cand)
                .groupBy("root", ID)
                .agg(F.min("dist").alias("dist"))
            )
            obs = Observation(f"bcw_bf_{bno}_{_}")
            merged = merged.join(
                dist.select("root", ID, F.col("dist").alias("_old")),
                ["root", ID],
                "left",
            ).select(
                "root", ID, "dist",
                (F.col("_old").isNull() | (F.col("dist") < F.col("_old"))).alias("_ch"),
            ).observe(obs, F.count(F.when(F.col("_ch"), 1)).alias("n"))
            merged = truncate_lineage(merged.drop("_ch"))
            improved = obs.get["n"]
            dist.unpersist()
            dist = merged
            if improved == 0:
                break
        else:
            raise ConvergenceError("weighted betweenness relaxation did not settle")
        # -- phase 2: implicit DAG + (level, sigma) fixpoint
        dag = (
            redges.alias("e")
            .join(
                dist.select("root", F.col(ID).alias("_u"), F.col("dist").alias("_du")),
                "_u",
            )
            .join(
                dist.select("root", F.col(ID).alias("_w"), F.col("dist").alias("_dw")),
                ["root", "_w"],
            )
            .filter(
                # DAG-edge test with a tiny RELATIVE tolerance: equal-cost
                # parallel paths whose float sums round differently must
                # not be silently dropped from sigma/delta (ADVICE r5).
                # For weights with exact float sums (integers — the oracle
                # fixtures) the tolerance is inert: non-equal distances
                # differ by >= 1, far above 1e-12 relative.
                F.abs(F.col("_du") + F.col("_ew") - F.col("_dw"))
                <= F.lit(1e-12) * F.greatest(F.abs(F.col("_dw")), F.lit(1.0))
            )
            .select("root", "_u", "_w")
        )
        dag = truncate_lineage(dag.repartition(n_part, "root", "_u")).persist()
        roots = batch.select(
            F.col(ID).alias("root"), F.col(ID),
            F.lit(0).alias("lvl"), F.lit(1.0).alias("sigma"),
        )
        st = truncate_lineage(roots)
        for _ in range(graph.num_nodes() + 1):
            prop = (
                dag.join(
                    st.select("root", F.col(ID).alias("_u"), "lvl", "sigma"),
                    ["root", "_u"],
                )
                .groupBy("root", F.col("_w").alias(ID))
                .agg(
                    (F.max("lvl") + 1).alias("lvl"),
                    F.sum("sigma").alias("sigma"),
                )
            )
            new_st = truncate_lineage(roots.unionAll(prop))
            obs = Observation(f"bcw_sig_{bno}_{_}")
            chk = (
                new_st.join(
                    st.select(
                        "root", ID,
                        F.col("lvl").alias("_ol"), F.col("sigma").alias("_os"),
                    ),
                    ["root", ID],
                    "left",
                )
                .select(
                    (
                        F.col("_ol").isNull()
                        | (F.col("_ol") != F.col("lvl"))
                        | (F.col("_os") != F.col("sigma"))
                    ).alias("_ch")
                )
                .observe(obs, F.count(F.when(F.col("_ch"), 1)).alias("n"))
            )
            chk.count()
            changed = obs.get["n"]
            st.unpersist()
            st = new_st
            if changed == 0:
                break
        else:
            raise ConvergenceError(
                "weighted betweenness sigma did not settle — a zero-weight "
                "cycle makes the shortest-path 'DAG' cyclic (path counts "
                "diverge; networkx has the same caveat). Remove or reweight "
                "zero-weight edges"
            )
        maxlvl = st.agg(F.max("lvl")).collect()[0][0] or 0
        # sigma_u folded onto each DAG edge once for the backward sweeps
        dag_s = truncate_lineage(
            dag.join(
                st.select("root", F.col(ID).alias("_u"), F.col("sigma").alias("_su")),
                ["root", "_u"],
            )
        ).persist()
        dag.unpersist()
        # -- phase 3: backward sweeps by level; pending deltas keyed by node
        stt = st.join(targets, ID, "left")
        pend: DataFrame | None = None  # (root, id, delta) not yet consumed
        batch_deltas: list[DataFrame] = []
        for lvl in range(int(maxlvl), 0, -1):
            rows_l = stt.filter(F.col("lvl") == lvl)
            if pend is not None:
                rows_l = rows_l.join(pend, ["root", ID], "left")
            else:
                rows_l = rows_l.withColumn("delta", F.lit(0.0))
            rows_l = truncate_lineage(
                rows_l.select(
                    "root", ID, "sigma",
                    F.coalesce("delta", F.lit(0.0)).alias("delta"),
                    (
                        F.coalesce("delta", F.lit(0.0))
                        + F.when(F.col("_t"), F.lit(1.0)).otherwise(F.lit(0.0))
                    ).alias("coeff"),
                )
            )
            batch_deltas.append(rows_l.select("root", ID, "delta"))
            contrib = (
                dag_s.join(
                    rows_l.select(
                        "root", F.col(ID).alias("_w"),
                        (F.col("coeff") / F.col("sigma")).alias("_cw"),
                    ),
                    ["root", "_w"],
                )
                .groupBy("root", F.col("_u").alias(ID))
                .agg(F.sum(F.col("_cw") * F.col("_su")).alias("delta"))
            )
            if pend is not None:
                keep = pend.join(
                    rows_l.select("root", ID), ["root", ID], "left_anti"
                )
                pend = truncate_lineage(
                    keep.unionAll(contrib)
                    .groupBy("root", ID)
                    .agg(F.sum("delta").alias("delta"))
                )
            else:
                pend = truncate_lineage(contrib)
        dag_s.unpersist()
        if batch_deltas:
            from functools import reduce

            batch_scores = (
                reduce(DataFrame.unionAll, batch_deltas)
                .filter(F.col(ID) != F.col("root"))
                .groupBy(ID)
                .agg(F.sum("delta").alias("betweenness"))
            )
            acc = (
                batch_scores
                if acc is None
                else truncate_lineage(
                    acc.unionAll(batch_scores)
                    .groupBy(ID)
                    .agg(F.sum("betweenness").alias("betweenness"))
                )
            )
    nv = graph.num_nodes()
    base = node_ids.join(acc, ID, "left") if acc is not None else (
        node_ids.withColumn("betweenness", F.lit(0.0))
    )
    out = base.select(
        ID, F.coalesce("betweenness", F.lit(0.0)).alias("betweenness")
    )
    out = truncate_lineage(_betweenness_scale(out, nv, graph.is_directed, normalize))
    sources.unpersist()
    edges.unpersist()
    redges.unpersist()
    return out


def betweenness_centrality(
    graph: Graph,
    nodes: Optional[DataFrame] = None,
    normalize: bool = False,
    sources_per_batch: int = 16,
    strategy: str = "auto",
) -> DataFrame:
    """Brandes betweenness, parallelized over sources.

    The positional CSR comes from the handle's layout
    (``Graph.sequential_layout``: the kept ``Graph.driver_layout`` within
    the driver caps) as three numpy arrays which are broadcast; sources
    are distributed ``sources_per_batch`` per Arrow batch through
    ``applyInPandas``; each task runs weighted Brandes (Dijkstra +
    dependency accumulation on the broadcast CSR) for its sources and emits
    partial (id, score) rows which a final groupBy sums. Matches nx
    ``betweenness_centrality_subset`` with sources == targets == nodes
    (``plugins/networkx/algorithms.py:158-173``).

    ``strategy``: ``"kernel"`` is the broadcast-CSR path above (weighted,
    refuses graphs beyond ``routing.BETWEENNESS_MAX_EDGES`` layout edges);
    ``"distributed"`` is
    ``_betweenness_distributed`` (batched multi-source BFS) for
    unweighted graphs and ``_betweenness_distributed_weighted`` (implicit
    shortest-path DAG over Bellman-Ford distances, level-layered
    dependency sweeps) for weighted ones — neither broadcasts the
    adjacency or keeps O(V) driver state; ``"auto"`` picks kernel below
    the guard and falls through to the matching distributed strategy
    above it."""
    import numpy as np
    import pandas as pd

    if strategy not in ("auto", "kernel", "distributed"):
        raise ValueError(f"unknown betweenness strategy {strategy!r}")
    if strategy == "distributed":
        if graph.is_weighted:
            return _betweenness_distributed_weighted(graph, nodes, normalize)
        return _betweenness_distributed(graph, nodes, normalize)
    spark = graph.edges.sparkSession
    m = routing.layout_edges("betweenness", graph)
    if m > routing.BETWEENNESS_MAX_EDGES:
        if strategy == "auto":
            if graph.is_weighted:
                return _betweenness_distributed_weighted(
                    graph, nodes, normalize
                )
            return _betweenness_distributed(graph, nodes, normalize)
        raise GraphPropertyError(
            f"betweenness needs the adjacency broadcast per task; graph has "
            f"{m} (symmetrized) edges > BETWEENNESS_MAX_EDGES="
            f"{routing.BETWEENNESS_MAX_EDGES}. Exact "
            f"betweenness is all-pairs — sample sources at this scale "
            f"(strategy='auto' takes the distributed BFS/Bellman-Ford "
            f"strategies automatically)."
        )
    lay = graph.sequential_layout()
    node_arr = lay.ids
    nv = lay.n
    src_pos, dst_pos, w_arr = lay.symmetrized(graph.is_directed)
    if w_arr is None:
        w_arr = np.ones(len(src_pos))
    order = np.argsort(src_pos, kind="stable")
    indices = dst_pos[order]
    weights = w_arr[order]
    indptr = np.zeros(nv + 1, dtype=np.int64)
    np.cumsum(np.bincount(src_pos, minlength=nv), out=indptr[1:])

    if nodes is not None:
        # unique: a duplicated source id would run (and sum) its Brandes
        # pass twice, silently inflating every reachable score
        src_ids = np.unique(nodes.select(ID).toArrow().column(ID).to_numpy())
        if nv == 0 and len(src_ids):
            raise GraphPropertyError(
                f"betweenness sources not in graph: {src_ids[:10].tolist()}"
            )
        srcs = np.searchsorted(node_arr, src_ids)
        # searchsorted on a missing id silently returns the insertion
        # position (or nv, past the end) — validate membership explicitly.
        bad = (srcs >= nv) | (node_arr[np.minimum(srcs, nv - 1)] != src_ids)
        if bad.any():
            raise GraphPropertyError(
                f"betweenness sources not in graph: {src_ids[bad][:10].tolist()}"
            )
        tmask = np.zeros(nv, dtype=bool)
        tmask[srcs] = True
    else:
        srcs = np.arange(nv)
        tmask = np.ones(nv, dtype=bool)
    bc_adj = spark.sparkContext.broadcast((indptr, indices, weights, nv, tmask))

    def brandes_batch(pdf: pd.DataFrame) -> pd.DataFrame:
        import heapq

        iptr, idx, ws, nvv, tgts = bc_adj.value
        score = np.zeros(nvv)
        for s in pdf["s"].to_numpy():
            s = int(s)
            dist = np.full(nvv, np.inf)
            sigma = np.zeros(nvv)
            dist[s] = 0.0
            sigma[s] = 1.0
            preds: list[list[int]] = [[] for _ in range(nvv)]
            seen_order: list[int] = []
            heap = [(0.0, s)]
            done = np.zeros(nvv, dtype=bool)
            while heap:
                d, u = heapq.heappop(heap)
                if done[u]:
                    continue
                done[u] = True
                seen_order.append(u)
                for j in range(iptr[u], iptr[u + 1]):
                    v = int(idx[j])
                    nd = d + ws[j]
                    if nd < dist[v] - 1e-15:
                        dist[v] = nd
                        sigma[v] = sigma[u]
                        preds[v] = [u]
                        heapq.heappush(heap, (nd, v))
                    elif abs(nd - dist[v]) <= 1e-15 and not done[v]:
                        sigma[v] += sigma[u]
                        preds[v].append(u)
            delta = np.zeros(nvv)
            for w_ in reversed(seen_order):
                coeff = (1.0 + delta[w_]) if (tgts[w_] and w_ != s) else delta[w_]
                for u in preds[w_]:
                    delta[u] += sigma[u] / sigma[w_] * coeff
            delta[s] = 0.0
            score += delta
        return pd.DataFrame({"id": node_arr, "partial": score})

    src_df = spark.createDataFrame(
        [(int(s), int(i) // sources_per_batch) for i, s in enumerate(srcs)],
        "s long, grp long",
    )
    partials = src_df.groupBy("grp").applyInPandas(
        brandes_batch, schema="id long, partial double"
    )
    out = partials.groupBy(ID).agg(F.sum("partial").alias("betweenness"))
    return _betweenness_scale(out, nv, graph.is_directed, normalize)
