"""centrality.pagerank — power iteration with networkx dangling semantics.

Reference contract (abstract def ``plugins/core/algorithms/centrality.py:27-37``):
``(Graph(edge_type=map), damping=0.85, maxiter=50, tolerance=1e-05) -> NodeMap``
and MUST raise ConvergenceError when maxiter is exceeded.

Semantics pinned by the reference implementations:

- the networkx concrete impl passes ``weight=None`` — PageRank is UNWEIGHTED
  (``plugins/networkx/algorithms.py:16-28``); out-degree = out-edge count.
- update: ``r'[v] = d·Σ_{(u,v)∈E} r[u]/outdeg(u) + d·danglesum/N + (1-d)/N``
  where ``danglesum = Σ_{u dangling} r[u]`` — dangling mass is redistributed
  uniformly (networkx semantics; the grblas impl at
  ``plugins/graphblas/algorithms.py:34-72`` drops it, networkx is the oracle).
- convergence: L1 error ``Σ|r'-r| < N·tolerance``
  (``plugins/graphblas/algorithms.py:66-67``; networkx uses the same rule).

Routes (picked per call by ``operators/routing.py``): ``kernel-driver``
and ``kernel-distributed`` run ``operators/kernel.py:pagerank_kernel``
(numpy on the driver below the driver caps; the file-backed slice-store
loop above them); ``join`` is the plan below — warm starts, checkpointed
runs and graphs past the kernel caps.

Join-plan physical design (what survives 1000 executors / 10^12 edges):

- edges are hash-partitioned by ``src`` ONCE and persisted; the vertex state
  ``(id, outdeg, dangling, rank, prev)`` is hash-partitioned by ``id``. The
  dominant shuffle per superstep is the |E|-row contributions into
  groupBy(dst) (map-side partial aggregation included); the per-superstep
  localCheckpoint (see ``state.LineageManager``) re-introduces one |V|-row
  exchange on the state side — accepted: a persist chain that would keep the
  partitioning grows the doubly-self-referencing plan exponentially and
  OOMs the driver on plan stringification.
- carrying ``outdeg``/``dangling``/``prev`` in the state removes the per-
  superstep joins against a degree table; L1 error + next dangling mass are
  computed via ``DataFrame.observe`` DURING the state materialization —
  exactly ONE Spark job per superstep, no extra pass over the state.
- lineage is truncated every superstep (localCheckpoint, or durable parquet
  checkpoints via CheckpointManager for resume-after-loss).
- hub-vertex skew: partial aggregation collapses hot dst keys map-side; the
  contrib join's hot src side is mitigated by AQE skew-join splitting
  (enabled in session defaults).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from metagraph_spark.exceptions import ConvergenceError
from metagraph_spark.graph import DST, ID, SRC, Graph
from metagraph_spark.operators import routing
from metagraph_spark.state import (
    CheckpointManager,
    LineageManager,
    truncate_lineage,
    truncate_lineage_partitioned,
)

_STATE_COLS = ("id", "outdeg", "dangling", "rank", "prev")


def pagerank(
    graph: Graph,
    damping: float = 0.85,
    maxiter: int = 50,
    tolerance: float = 1e-05,
    fixed_iterations: int | None = None,
    checkpointer: CheckpointManager | None = None,
    metrics_sink: list | None = None,
    strategy: str = "auto",
    kernel_spill_dir: str | None = None,
    warm_start: DataFrame | None = None,
) -> DataFrame:
    """Return NodeMap DataFrame ``(id: long, rank: double)``.

    ``warm_start`` (optional ``(id, rank)`` NodeMap, e.g. the previous
    run's result before edges were appended) seeds the power iteration
    instead of the uniform vector: ranks are renormalized to unit mass,
    nodes absent from the warm vector start at ``1/n``. Power iteration
    converges from any positive start, so the fixpoint is the cold run's
    (within tolerance) — a near-fixpoint seed just gets there in far
    fewer supersteps (the streaming-maintenance path; see
    :func:`incremental_pagerank`). Forces the join strategy: the kernel
    layouts carry no injected start vector.

    ``fixed_iterations`` runs exactly k supersteps with no convergence test
    (used for oracle-vs-engine comparisons where both sides unroll the same
    k). Otherwise iterates until ``Σ|r'-r| < N·tolerance`` and raises
    :class:`ConvergenceError` past ``maxiter``.

    With a ``checkpointer``, full vertex state persists per superstep and a
    re-run resumes from the newest complete iteration. ``metrics_sink``
    (optional list) receives one dict per superstep.

    ``strategy``: ``"auto"`` (default — the route
    :func:`routing.plan` picks: the driver kernel below the driver caps,
    the file-backed slice-store kernel above them, the join plan past the
    auto edge cap or with a checkpointer / warm start), ``"join"``
    (iterative DataFrame joins — scales to any V, the only checkpointable
    strategy), or ``"kernel"`` (the CSR kernel at any size: file-backed
    above the driver caps, under ``kernel_spill_dir`` or a temp dir on a
    filesystem shared with the executors). ``kernel_spill_dir`` lays the
    kernel's blocks out as files there. Both strategies implement the
    identical update rule and are asserted equal by shared golden
    tests."""
    route, _ = routing.plan(
        "pagerank", graph, strategy, checkpointer, kernel_spill_dir,
        warm_start,
    )
    if route.startswith("kernel"):
        from metagraph_spark.operators.kernel import pagerank_kernel

        return pagerank_kernel(
            graph,
            damping=damping,
            maxiter=maxiter,
            tolerance=tolerance,
            fixed_iterations=fixed_iterations,
            metrics_sink=metrics_sink,
            spill_dir=kernel_spill_dir,
        )
    spark = graph.edges.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if graph.is_directed and graph.metadata.get("partitioned_by_src") == n_part:
        # already laid out by Graph.partition_by_src — reuse as-is
        edges = graph.edges.select(SRC, DST)
        _edges_owned = False
    else:
        edges = (
            graph.symmetrized().select(SRC, DST).repartition(n_part, SRC).persist()
        )
        _edges_owned = True

    def _release() -> None:
        if _edges_owned:
            edges.unpersist()
    nodes = graph.node_ids()
    n = graph.num_nodes()
    if n == 0:
        _release()
        return spark.createDataFrame([], "id long, rank double")

    start_iter = 0
    state = None
    if checkpointer is not None:
        latest = checkpointer.latest()
        if latest is not None:
            state = checkpointer.load(spark, latest).repartition(n_part, ID)
            state = truncate_lineage(state)
            start_iter = latest + 1
    if state is None:
        out_deg = edges.groupBy(F.col(SRC).alias(ID)).agg(
            F.count(F.lit(1)).alias("outdeg")
        )
        seeded = nodes
        rank0 = F.lit(1.0 / n)
        if warm_start is not None:
            seeded = nodes.join(
                warm_start.select(ID, F.col("rank").alias("_wr")), ID, "left"
            ).select(ID, F.coalesce("_wr", F.lit(1.0 / n)).alias("_wr"))
            mass = seeded.agg(F.sum("_wr")).collect()[0][0]
            if mass is None or not mass > 0:
                raise ValueError(
                    "warm_start ranks must have positive total mass"
                )
            # unit mass: the teleport/dangling constants assume Σr = 1, and
            # power iteration preserves mass — a mis-scaled seed would
            # converge to a mis-scaled fixpoint
            rank0 = F.col("_wr") / F.lit(float(mass))
        state = (
            seeded.join(out_deg, ID, "left")
            .select(
                ID,
                "outdeg",
                F.col("outdeg").isNull().alias("dangling"),
                rank0.alias("rank"),
                F.lit(None).cast("double").alias("prev"),
            )
            .repartition(n_part, ID)
        )
        state = truncate_lineage(state)

    base = (1.0 - damping) / n
    total_iters = fixed_iterations if fixed_iterations is not None else maxiter
    err = None
    # single-stage broadcast supersteps for small graphs (guide §2.4/§3.1):
    # the edge cache is re-keyed by DST once and the per-superstep
    # contributions are BROADCAST into the gather join, so the
    # groupBy(dst) and the merge-back join against the hash-stamped state
    # run partition-local — ONE shuffle-free stage per superstep instead
    # of two exchanges + an AQE stage chain. Above routing.fits_broadcast
    # the shuffled superstep keeps AQE's skew/coalesce freedoms (measured
    # faster at 100M edges). Checkpointed and warm-started runs keep the
    # established plan (their state/resume contracts are pinned by tests
    # and the streaming-maintenance path).
    small = checkpointer is None and routing.fits_broadcast(
        n, graph.num_edges()
    )
    # ONLY fixed-superstep runs take the broadcast plan. CONVERGED runs
    # keep the established superstep plan UNCHANGED: any plan change
    # (even state-partition stamping, measured) perturbs float summation
    # order enough to move a convergence-threshold crossing by a
    # superstep, and the converged oracle row unrolls the measured exact
    # count — fixed-iteration results are count-pinned and therefore
    # robust to ulp-level reordering under the 6-decimal rounding.
    use_bcast = small and warm_start is None and fixed_iterations is not None
    edges_b = None
    if use_bcast:
        edges_b = edges.repartition(n_part, DST).persist()
        edges_b.count()  # materialize so superstep plans see the layout
        _release()

        def _release() -> None:  # noqa: F811 — now owns the dst cache
            edges_b.unpersist()

    if use_bcast:
        state = truncate_lineage_partitioned(
            state.repartition(n_part, ID), [ID], n_part
        )
    lineage = (
        LineageManager(partition_cols=[ID], n_part=n_part)
        if use_bcast
        else LineageManager()
    )
    # dangling mass of the CURRENT state (scan-aggregate, no joins)
    danglesum = state.agg(
        F.coalesce(F.sum(F.when(F.col("dangling"), F.col("rank"))), F.lit(0.0))
    ).collect()[0][0]

    it = start_iter
    while it < total_iters:
        contrib = state.filter(~F.col("dangling")).select(
            F.col(ID).alias(SRC), (F.col("rank") / F.col("outdeg")).alias("c")
        )
        # shuffle_hash hints: both joins are already co-partitioned (edges
        # by src, state stamped by id), so SMJ's only remaining cost would
        # be a full SORT of the |E|-row edge cache EVERY superstep
        # (measured 40% slower at 100M edges); hash-building the |V|-row
        # side instead costs one in-memory map per partition and no sorts.
        # Broadcast mode: dst-keyed cache + broadcast contribs — the
        # groupBy and the merge join below run partition-local (update
        # expressions identical either way).
        if use_bcast:
            gather = (
                edges_b.join(F.broadcast(contrib), SRC)
                .groupBy(F.col(DST).alias(ID))
                .agg(F.sum("c").alias("g"))
            )
        else:
            gather = (
                edges.join(contrib.hint("shuffle_hash"), SRC)
                .groupBy(F.col(DST).alias(ID))
                .agg(F.sum("c").alias("g"))
            )
        new_state = (
            state.select(ID, "outdeg", "dangling", F.col("rank").alias("prev"))
            .join(gather.hint("shuffle_hash"), ID, "left")
            .select(
                ID,
                "outdeg",
                "dangling",
                (
                    F.lit(damping) * F.coalesce(F.col("g"), F.lit(0.0))
                    + F.lit(damping * danglesum / n + base)
                ).alias("rank"),
                "prev",
            )
        )
        # observation metrics ride along with the materialization action —
        # no separate stats job
        obs = Observation(f"pagerank_iter_{it}")
        new_state = new_state.observe(
            obs,
            F.sum(F.abs(F.col("rank") - F.col("prev"))).alias("err"),
            F.coalesce(
                F.sum(F.when(F.col("dangling"), F.col("rank"))), F.lit(0.0)
            ).alias("danglesum"),
        )
        if checkpointer is not None:
            new_state = checkpointer.save(
                it, new_state, {"algorithm": "pagerank", "n": n}
            )
        else:
            new_state = lineage.materialize(new_state)
        stats = obs.get
        err, danglesum = stats["err"], stats["danglesum"]
        if metrics_sink is not None:
            metrics_sink.append({"iteration": it, "l1_error": err})
        state = new_state
        it += 1
        if fixed_iterations is None and err < n * tolerance:
            state = lineage.finalize(state)
            _release()
            return state.select(ID, "rank")
    if fixed_iterations is not None:
        state = lineage.finalize(state)
        _release()
        return state.select(ID, "rank")
    lineage.release()
    _release()
    raise ConvergenceError(
        f"pagerank failed to converge in {maxiter} iterations (err={err!r}, "
        f"threshold={n * tolerance!r})"
    )


def incremental_pagerank(
    graph: Graph,
    prev_ranks: DataFrame,
    damping: float = 0.85,
    maxiter: int = 50,
    tolerance: float = 1e-05,
    metrics_sink: list | None = None,
) -> DataFrame:
    """Converged PageRank WARM-STARTED from a previous result after edges
    were appended (the streaming-ingest maintenance path — companion to
    ``components.incremental_connected_components``).

    Power iteration with teleport is a contraction (factor = damping) from
    ANY unit-mass start, so the warm run converges to the same fixpoint as
    a cold run — it just starts ||r0 - r*|| small instead of O(1), cutting
    supersteps roughly by log(||uniform - r*|| / ||prev - r*||) /
    log(1/damping). A typical appended micro-batch perturbs few vertices
    and settles in a handful of |E|-row supersteps (asserted in tests).
    Nodes absent from ``prev_ranks`` (new actors) seed at 1/n; the seed is
    renormalized to unit mass. ``metrics_sink`` receives per-superstep L1
    errors so callers can observe the saved rounds."""
    return pagerank(
        graph,
        damping=damping,
        maxiter=maxiter,
        tolerance=tolerance,
        metrics_sink=metrics_sink,
        strategy="join",
        warm_start=prev_ranks,
    )
