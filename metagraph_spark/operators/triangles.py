"""clustering.triangle_count and global_clustering_coefficient.

Reference contracts:

- ``triangle_count(Graph(is_directed=False)) -> int``
  (abstract ``plugins/core/algorithms/clustering.py:29-32``). Concrete
  oracles: scipy ``(L @ U.T).multiply(L).sum()`` with L=tril/U=triu
  (``plugins/scipy/algorithms.py:66-81``, citing the Sandia HPEC tricount);
  grblas Burkhardt ``sum(sum(A@A)*A)/6`` (``plugins/graphblas/algorithms.py:18-32``);
  golden value 5 on the 8-node fixture
  (``tests/algorithms/test_clustering.py:91-120``). Weights are ignored.
- ``global_clustering_coefficient(Graph(is_directed=False)) -> float`` =
  transitivity = 3·triangles / #wedges (abstract ``clustering.py:35-50``;
  nx ``plugins/networkx/algorithms.py:56-59``); golden 3/11
  (``test_clustering.py:123-147``).

Spark plan — degree-ordered orientation + join intersection (the standard
distributed tricount; same asymptotics as the HPEC L/U formulation):

1. canonicalize: self-loops dropped, one row per undirected edge.
2. orient each edge from the lower-(degree, id) endpoint to the higher —
   every triangle is counted exactly once, and the oriented out-degree is
   bounded by O(sqrt(E)), which caps the size of the wedge join.
3. wedges = oriented ⋈ oriented on (e1.dst = e2.src); close with a third
   join back onto oriented edges; count.

All three joins are equi-joins Catalyst can shuffle-hash/sort-merge; AQE
handles residual skew. No Python in the plan.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from metagraph_spark.graph import DST, SRC, Graph
from metagraph_spark.operators import routing


def _oriented_edges(graph: Graph):
    """Canonical undirected edges oriented by (degree, id) ascending."""
    canon = graph.canonical_undirected_edges().select(SRC, DST)
    deg = (
        canon.select(F.col(SRC).alias("n"))
        .unionAll(canon.select(F.col(DST).alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    e = (
        canon.join(deg.withColumnRenamed("n", SRC).withColumnRenamed("d", "ds"), SRC)
        .join(deg.withColumnRenamed("n", DST).withColumnRenamed("d", "dd"), DST)
    )
    # orient low (degree, id) -> high (degree, id)
    keep = (F.col("ds") < F.col("dd")) | (
        (F.col("ds") == F.col("dd")) & (F.col(SRC) < F.col(DST))
    )
    return e.select(
        F.when(keep, F.col(SRC)).otherwise(F.col(DST)).alias("a"),
        F.when(keep, F.col(DST)).otherwise(F.col(SRC)).alias("b"),
    )


def triangle_count(graph: Graph, strategy: str = "auto",
                   kernel_spill_dir: str | None = None) -> int:
    """Exact global triangle count (weights ignored).

    ``strategy``: ``"auto"`` (default — the route :func:`routing.plan`
    picks: the sorted-key CSR kernel, ``operators/tri_kernel.py``, when
    rank keys fit int64 AND the executors share the temp dir with the
    driver; join plan otherwise),
    ``"kernel"`` (force the kernel), or ``"join"`` (the three-way
    self-join plan — the no-shared-fs scale fallback). Both count the
    same triangles (parity-asserted in tests)."""
    route, _ = routing.plan(
        "triangles", graph, strategy, spill_dir=kernel_spill_dir
    )
    if route == "tri_kernel":
        from metagraph_spark.operators.tri_kernel import triangle_count_kernel

        return triangle_count_kernel(graph, spill_dir=kernel_spill_dir)
    o = _oriented_edges(graph).persist()
    e1, e2, e3 = o.alias("e1"), o.alias("e2"), o.alias("e3")
    n = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
            "left_semi",
        )
        .count()
    )
    o.unpersist()
    return int(n)


def triangles_per_node(graph: Graph):
    """NodeMap ``(id, triangles)`` — per-node triangle participation
    (reference analog: ``nx.triangles`` used by ``plugins/networkx/
    algorithms.py:48-54``). Each triangle (x,y,z) credits all three nodes."""
    o = _oriented_edges(graph).persist()
    e1, e2, e3 = o.alias("e1"), o.alias("e2"), o.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
            "left_semi",
        )
        .select(
            F.col("e1.a").alias("x"), F.col("e1.b").alias("y"), F.col("e2.b").alias("z")
        )
    )
    per_node = (
        tri.select(F.col("x").alias("id"))
        .unionAll(tri.select(F.col("y").alias("id")))
        .unionAll(tri.select(F.col("z").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    result = per_node
    o.unpersist()
    return result


def global_clustering_coefficient(graph: Graph) -> float:
    """Transitivity: 3·triangles / Σ_v deg(v)·(deg(v)−1)/2."""
    canon = graph.canonical_undirected_edges().select(SRC, DST).persist()
    tri = triangle_count(Graph(edges=canon, is_directed=False))
    wedges = (
        canon.select(F.col(SRC).alias("n"))
        .unionAll(canon.select(F.col(DST).alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
        .agg(F.sum(F.col("d") * (F.col("d") - 1) / 2).alias("w"))
        .collect()[0]["w"]
    )
    canon.unpersist()
    if not wedges:
        return 0.0
    return 3.0 * tri / wedges


def incremental_triangle_count(
    graph: Graph, new_edges, prev_count: int
) -> int:
    """Exact triangle count after edges were APPENDED, updating a previous
    count with work sized by the batch — the streaming-maintenance
    companion to ``components.incremental_connected_components`` and
    ``pagerank.incremental_pagerank`` (LPA has no incremental analog: sync
    LPA's fixpoint depends on its init, so a warm start converges to a
    DIFFERENT stable labeling than a cold run).

    ``graph`` is the maintained FULL graph (old ∪ new, the streaming sink
    table); ``new_edges`` is the appended batch ``(src, dst[, ...])`` —
    UNDIRECTED edges that were NOT present before in either orientation
    (the ingest sink's groupBy-dedup guarantees this; a batch row whose
    canonical pair already existed pre-append would double count its
    triangles — phantom rows absent from the maintained table ARE dropped
    defensively). ``prev_count`` is the count over the pre-append graph.

    Math: a triangle of the full graph with k ≥ 1 new edges must be
    counted exactly once; by inclusion-exclusion over which new edge
    witnesses it, delta = T1 - T2 + T3 with
      T1 = Σ_{(u,v) new} |N_full(u) ∩ N_full(v)|     (counts each t k times)
      T2 = #{unordered pairs of distinct new edges sharing a vertex whose
            far endpoints are adjacent in full}       (counts C(k,2) times)
      T3 = #{triangles made of new edges only}        (counts C(k,3) times)
    and k - C(k,2) + C(k,3) = 1 for k = 1, 2, 3. Every join is sized by
    |batch| x degree, never |E|^1.5 — at 10^12 edges the cold recount is
    the thing this exists to avoid. Exactness is asserted against cold
    recounts over random splits in tests."""
    full_canon = graph.canonical_undirected_edges().select(SRC, DST).persist()
    lo = F.least(SRC, DST).alias(SRC)
    hi = F.greatest(SRC, DST).alias(DST)
    new_canon = (
        new_edges.select(SRC, DST)
        .filter(F.col(SRC) != F.col(DST))
        .select(lo, hi)
        .distinct()
        # only edges actually present in the maintained table count
        .join(full_canon, [SRC, DST], "left_semi")
        .persist()
    )
    if new_canon.isEmpty():
        full_canon.unpersist()
        new_canon.unpersist()
        return int(prev_count)
    adj = full_canon.unionAll(
        full_canon.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST))
    )
    # T1: common full-graph neighbors of each new edge's endpoints
    t1 = (
        new_canon.alias("ne")
        .join(adj.alias("au"), F.col("ne.src") == F.col("au.src"))
        .select(
            F.col("ne.src").alias("u"),
            F.col("ne.dst").alias("v"),
            F.col("au.dst").alias("w"),
        )
        .filter(F.col("w") != F.col("v"))
        .join(
            adj.select(F.col(SRC).alias("v"), F.col(DST).alias("w")),
            ["v", "w"],
            "left_semi",
        )
        .count()
    )
    # T2: pairs of distinct new edges sharing a vertex, far ends adjacent
    sym_new = new_canon.unionAll(
        new_canon.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST))
    )
    t2 = (
        sym_new.alias("p")
        .join(sym_new.alias("q"), F.col("p.src") == F.col("q.src"))
        .filter(F.col("p.dst") < F.col("q.dst"))
        .select(F.col("p.dst").alias(SRC), F.col("q.dst").alias(DST))
        .join(full_canon, [SRC, DST], "left_semi")
        .count()
    )
    # T3: triangles entirely inside the batch (oriented join on the batch)
    t3 = triangle_count(
        Graph(edges=new_canon, is_directed=False), strategy="join"
    )
    full_canon.unpersist()
    new_canon.unpersist()
    return int(prev_count) + int(t1) - int(t2) + int(t3)
