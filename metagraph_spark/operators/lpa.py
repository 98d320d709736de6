"""clustering.label_propagation_community — synchronous LPA.

Reference contract (abstract def ``plugins/core/algorithms/clustering.py:16-18``):
``(Graph(is_directed=False)) -> NodeMap``. The nx concrete impl
(``plugins/networkx/algorithms.py:77-86``) is randomized; the reference test
only checks the resulting PARTITION (``tests/algorithms/test_clustering.py:212-227``).

We therefore fix a DETERMINISTIC synchronous variant (reproducible and
checkpoint-resumable, see SURVEY.md §7):

- each round every node adopts the most frequent label among its neighbors
  PLUS ITS OWN current label (one self-vote); ties break to the SMALLEST
  label. The self-vote damps the 2-cycling that pure synchronous LPA
  exhibits on bipartite-ish structures (e.g. the reference's golden CC/LPA
  fixture oscillates without it and converges to the expected partition
  {0,1,3,4}/{2,5,6,7} with it).
- isolated nodes keep their own label.
- stop when no label changes (or after ``fixed_rounds`` for oracle parity
  runs); synchronous LPA can 2-cycle on bipartite-ish structures, so
  ``max_rounds`` caps the loop and the last state is returned rather than
  raising (community detection has no convergence contract in the
  reference).

Spark plan per round: (sym_edges ⋈ labels on src) → groupBy(dst, label).count
→ per-dst argmax via ``max_by``-style struct ordering — two shuffles on the
vertex-state-sized table; the edge table never moves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from metagraph_spark.graph import DST, ID, SRC, Graph
from metagraph_spark.operators import routing
from metagraph_spark.state import CheckpointManager, truncate_lineage


def label_propagation_community(
    graph: Graph,
    max_rounds: int = 50,
    fixed_rounds: int | None = None,
    checkpointer: CheckpointManager | None = None,
    strategy: str = "auto",
    kernel_spill_dir: str | None = None,
) -> DataFrame:
    """Return NodeMap ``(id: long, label: long)``.

    Deterministic tie-break: per node, winning label = max count, then min
    label. Implemented with a single ``min_by(label, struct(-count, label))``
    — equivalently ``min(struct(neg_count, label))`` — so each round is one
    aggregation, no window sort.

    ``strategy="kernel"``/``"auto"`` (default) routes to the CSR-block vote
    kernel (``operators/kernel_algos.py:lpa_kernel`` — run-length vote
    counting, segmented argmax; EXACTLY the same labels) where
    :func:`routing.plan` picks ``kernel-driver`` or ``kernel-distributed``;
    ``kernel_spill_dir`` lays its blocks out as files there. The kernel
    keeps no durable per-round state (explicit ``"kernel"`` + checkpointer
    raises).
    """
    route, _ = routing.plan(
        "lpa", graph, strategy, checkpointer, kernel_spill_dir
    )
    if route.startswith("kernel"):
        from metagraph_spark.operators.kernel_algos import lpa_kernel

        return lpa_kernel(
            graph,
            max_rounds=max_rounds,
            fixed_rounds=fixed_rounds,
            spill_dir=kernel_spill_dir,
        )
    spark = graph.edges.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))

    # Narrower types (guide §2.3): when every node id fits int32 (checked
    # exactly — one scan-aggregate over the edge cache and the explicit
    # node set), the whole loop runs on int ids/labels: the one big layout
    # exchange and the cached vote set halve their bytes, and the label
    # values are ids, so a final cast back to long reproduces the exact
    # output. Checkpointed runs stay on long (their saved state schema is
    # a resume contract).
    narrow = False
    if checkpointer is None:
        lim = 2**31 - 1
        row = graph.edges.agg(
            F.min(SRC), F.min(DST), F.max(SRC), F.max(DST)
        ).collect()[0]
        vals = [v for v in row if v is not None]
        if graph.nodes is not None:
            nrow = graph.nodes.agg(F.min(ID), F.max(ID)).collect()[0]
            vals += [v for v in nrow if v is not None]
        narrow = bool(vals) and min(vals) >= -lim - 1 and max(vals) <= lim

    # One-exchange layout (guide §2.3/§2.4): the canonical-both-directions
    # vote edge set is produced by ONE repartition of e ∪ reverse(e) by the
    # loop's key column, with the canonical dedup running partition-local
    # on top (dedup of the symmetric set by (src,dst) ≡ canonical-pair
    # dedup then symmetrize). Self-loop vote rows are GONE — the one
    # self-vote is folded into the winner criterion algebraically (below),
    # which also removes the |V|-row node_ids distinct from the layout.
    def _build_sym(part_col):
        e = graph.edges.select(SRC, DST).filter(F.col(SRC) != F.col(DST))
        if narrow:
            e = e.select(
                F.col(SRC).cast("int").alias(SRC),
                F.col(DST).cast("int").alias(DST),
            )
        s = (
            e.unionAll(
                e.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST))
            )
            .repartition(n_part, part_col)
            .dropDuplicates([SRC, DST])
            .persist()
        )
        # materialize BEFORE the first round is planned: an unmaterialized
        # cache under AQE reports UnknownPartitioning, and the planner
        # would bake a full |E|-row Exchange into round 1 (and, in
        # broadcast mode, into EVERY round's aggregations) that the
        # now-known layout makes unnecessary
        s.count()
        return s

    # Vote-plan routing (guide §2.4/§3.1): the per-round vote count is two
    # nested aggregations keyed by dst — lay the edge cache out by DST
    # once and BROADCAST the |V|-row label state into the vote joins, and
    # BOTH aggregations run partition-local: a round has ZERO data-sized
    # exchanges (plan-asserted in tests). Broadcasting V rows stops being
    # reasonable past ``routing.fits_broadcast`` (~0.5 GB of labels per
    # executor at its cap); the fallback keys
    # the edge cache by SRC (the label join side) and pays ONE |E|-row
    # exchange re-keying the joined votes to DST — still one fewer
    # full-edge shuffle than aggregating by (dst,label) then by dst.
    # The layout is built DST-keyed optimistically (V is not known until
    # the endpoints of the deduped set are counted — a partition-local
    # aggregate on this layout); the giant-V fallback re-keys it once.
    sym = _build_sym(DST)
    # node set = endpoints of the deduped vote set (a partition-local
    # distinct on the cached layout) ∪ self-loop-only nodes ∪ explicit
    # isolate nodes — the latter two are tiny (self-loop rows are filtered
    # before their distinct) and exist so the node universe matches
    # graph.node_ids() exactly
    endpoints = sym.select(F.col(DST).alias(ID)).distinct()
    extra = graph.edges.filter(F.col(SRC) == F.col(DST)).select(
        F.col(SRC).alias(ID)
    )
    if graph.nodes is not None:
        extra = extra.unionAll(graph.nodes.select(ID))
    if narrow:
        extra = extra.select(F.col(ID).cast("int").alias(ID))
    extra = truncate_lineage(extra.distinct())
    nodes = truncate_lineage(endpoints.unionAll(extra).distinct())
    use_bcast = routing.fits_broadcast(nodes.count())
    if not use_bcast:
        old = sym
        sym = _build_sym(SRC)
        old.unpersist()
    # nodes with no (non-self) edges never receive a neighbor vote and
    # keep their own label forever (one self-vote over the empty neighbor
    # multiset); candidates can only come from ``extra``
    isolates = truncate_lineage(
        extra.join(endpoints, ID, "left_anti").select(
            ID, F.col(ID).alias("label")
        )
    )
    if not isolates.take(1):
        isolates = None

    def _widen(df: DataFrame) -> DataFrame:
        # labels are node ids, so the int->long cast back is exact
        if not narrow:
            return df
        return df.select(
            F.col(ID).cast("long").alias(ID),
            F.col("label").cast("long").alias("label"),
        )

    if not sym.take(1):
        # edgeless graph: every node keeps its own label in every round
        # (exit before the loop — same AQE empty-relation observe hazard
        # as components._two_phase_cc)
        sym.unpersist()
        return _widen(nodes.select(ID, F.col(ID).alias("label")))

    start_round = 0
    labels = None
    if checkpointer is not None:
        latest = checkpointer.latest()
        if latest is not None:
            # saved state carries the loop's _changed marker column; the
            # public NodeMap surface is (id, label) only (as in components.py)
            labels = checkpointer.load(spark, latest)
            if "_changed" in labels.columns:
                labels = labels.drop("_changed")
            start_round = latest + 1
    if labels is None:
        labels = truncate_lineage(
            nodes.select(ID, F.col(ID).alias("label"))
        )

    total = fixed_rounds if fixed_rounds is not None else max_rounds
    rnd = start_round
    while rnd < total:
        # The one-self-vote rule, folded into the winner criterion instead
        # of materialized self-loop edge rows: with c(m) = neighbor votes
        # for label m and ℓ = the node's own current label, the old vote
        # multiset scored every m as c(m) + [m = ℓ]. Equivalently: score
        # neighbor-voted labels as c(m) + [m = ℓ] and take the min of that
        # argmin-struct with the constant candidate (-1, ℓ) — identical
        # winner for every case (ℓ neighbor-voted: the (-1, ℓ) candidate
        # is dominated; ℓ not voted: it is exactly the self-vote). The
        # node's own label reaches the vote rows through a second join on
        # DST, which in broadcast mode reuses the same broadcast relation
        # and preserves the dst partitioning.
        lab_src = labels.select(F.col(ID).alias(SRC), F.col("label"))
        lab_own = labels.select(F.col(ID).alias(DST), F.col("label").alias("own"))
        if use_bcast:
            # dst-keyed edge cache + broadcast label build sides: both
            # joins preserve the DST partitioning, so both aggregations
            # below need no exchange
            joined = sym.join(F.broadcast(lab_src), SRC).join(
                F.broadcast(lab_own), DST
            )
        else:
            # shuffle_hash: hash-build the |V|-row label sides; SMJ would
            # sort the src-partitioned edge cache every round
            # (operators/pagerank.py measurement). One explicit re-key to
            # DST, then the own-label join and both aggregations are
            # partition-local on the dst key.
            joined = (
                sym.join(lab_src.hint("shuffle_hash"), SRC)
                .repartition(n_part, DST)
                .join(lab_own.hint("shuffle_hash"), DST)
            )
        votes = joined.groupBy(
            F.col(DST).alias(ID), F.col("label"), F.col("own")
        ).agg(F.count(F.lit(1)).alias("cnt"))
        # argmax by (count desc, label asc): min over struct(-eff, label),
        # eff = cnt + [label = own]; then fold in the (-1, own) candidate
        winners = votes.groupBy(ID, F.col("own")).agg(
            F.min(
                F.struct(
                    (
                        -(
                            F.col("cnt")
                            + (F.col("label") == F.col("own")).cast("long")
                        )
                    ).alias("nc"),
                    F.col("label"),
                )
            ).alias("w")
        ).select(
            ID,
            F.least(
                F.col("w"),
                F.struct(
                    F.lit(-1).cast("long").alias("nc"),
                    F.col("own").alias("label"),
                ),
            )["label"].alias("new_label"),
        )
        if fixed_rounds is not None and checkpointer is None:
            # winners covers every node with at least one incident edge,
            # and isolates keep their own initial label: the merge-back
            # join and the changed-count observe exist only for
            # convergence detection / checkpointed state — a fixed-round
            # run needs neither (values identical)
            new_labels = winners.withColumnRenamed("new_label", "label")
            if isolates is not None:
                new_labels = new_labels.unionAll(isolates)
            labels = truncate_lineage(new_labels)
            rnd += 1
            continue
        new_labels = (
            labels.join(winners, ID, "left")
            .select(
                ID,
                F.coalesce("new_label", "label").alias("label"),
                (F.coalesce("new_label", "label") != F.col("label")).alias(
                    "_changed"
                ),
            )
        )
        obs = Observation(f"lpa_round_{rnd}")
        new_labels = new_labels.observe(
            obs, F.count(F.when(F.col("_changed"), 1)).alias("changed")
        )
        if checkpointer is not None:
            new_labels = checkpointer.save(rnd, new_labels, {"algorithm": "lpa"})
        else:
            new_labels = truncate_lineage(new_labels)
        changed = obs.get["changed"]
        labels = new_labels.drop("_changed")
        rnd += 1
        if fixed_rounds is None and changed == 0:
            break
    sym.unpersist()
    return _widen(labels)
