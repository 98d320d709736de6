"""Graph handle: the engine's single concrete graph representation.

Reference analogs:

- abstract ``Graph`` with explicit schema properties (is_directed, edge_type,
  dtype, …): ``metagraph/plugins/core/types.py:87-96``.
- canonical physical form = edge triple table (``plugins/pandas/types.py:39-71``
  PandasEdgeMap: src/dst/weight columns).
- lazily-computed-and-cached properties (``core/plugin.py:233-280``,
  ``core/typecache.py:28-80``) → here: explicit metadata carried on the
  handle, computed at most once with DataFrame aggregates.

Spark-first design notes:

- ``edges`` is hash-partitioned by ``src`` once (``partition_by_src``) and
  persisted, so every superstep join (rank ⋈ edges on src) reuses the edge
  side's exchange; only the small vertex-state DataFrame shuffles per
  iteration.
- undirected graphs store each edge ONCE in canonical (min,max) orientation;
  algorithms that need both directions call ``symmetrized()``
  (reference analog: scipy translator symmetrization,
  ``plugins/scipy/translators.py:120-126``).
- small graphs (within ``routing.fits_driver``) reach the driver routes
  as a positional layout, :meth:`Graph.driver_layout`: the stored edge
  rows as int32 positions into the sorted ids, from one Arrow collect at
  the first driver-route call on a handle, then kept in its ``metadata``
  while ``edges`` and ``nodes`` stay the same objects (reference analogs:
  the translation of an edge table to a scipy CSR graph, and the
  typecache's once-computed properties).
- the driver routes have one way in and one way out. In:
  :meth:`Graph.driver_layout` (or :meth:`Graph.sequential_layout`), the
  only collect of a graph's edges or node ids.
  Out: :func:`driver_frame`, the only way a numpy result becomes a Spark
  DataFrame, always as an RDD of Arrow batches rather than a driver-side
  ``LocalRelation`` (reference analog: the translators where metagraph
  pays its representation cost).
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field
from typing import NamedTuple, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SRC, DST, WEIGHT = "src", "dst", "weight"
ID, VALUE = "id", "value"
# metadata key of the kept driver layout: (edges, nodes, DriverLayout)
_LAYOUT = "driver_layout"
_LOCAL_RELATION_THRESHOLD = "spark.sql.execution.arrow.localRelationThreshold"
# one driver_frame at a time per process: concurrent calls would each
# restore what another had set, and could leave the threshold at 0
_FRAME_LOCK = threading.Lock()

class DriverLayout(NamedTuple):
    """The stored edge rows of one Graph, on the driver, in positions.

    ``ids`` are the sorted node ids (edge endpoints ∪ ``graph.nodes``);
    ``src``/``dst`` are int32 positions into ``ids``, one per stored edge
    row in collect order; ``weights`` is the float64 weight column or
    ``None``. The arrays are read-only, as a Graph handle keeps them
    across calls. Each driver route derives its own edge view (directed,
    reversed, :meth:`symmetrized`, :meth:`canonical_pairs`) from these
    base arrays."""

    ids: np.ndarray
    src: np.ndarray
    dst: np.ndarray
    weights: Optional[np.ndarray]

    @property
    def n(self) -> int:
        return len(self.ids)

    def position(self, node_id: int, what: str) -> int:
        """The position of ``node_id`` in ``ids``; ``ValueError`` naming it
        the ``what`` node when absent (``searchsorted`` alone would give
        the insertion point, a wrong node)."""
        p = int(np.searchsorted(self.ids, node_id))
        if not (p < self.n and self.ids[p] == node_id):
            raise ValueError(f"{what} node {node_id} not in graph")
        return p

    def symmetrized(self, is_directed: bool):
        """``(src, dst, weights|None)`` of :meth:`Graph.symmetrized` in
        positions, in its collect order: the stored rows, then (undirected)
        the reverse of every non-self-loop row."""
        s, d, w = self.src, self.dst, self.weights
        if is_directed:
            return s, d, w
        keep = s != d
        return (np.concatenate([s, d[keep]]), np.concatenate([d, s[keep]]),
                None if w is None else np.concatenate([w, w[keep]]))

    def canonical_pairs(self) -> tuple[np.ndarray, np.ndarray]:
        """Sorted unique int64 position pairs ``(lo, hi)``, ``lo < hi``:
        :meth:`Graph.canonical_undirected_edges` in positions (orientation
        dropped, self-loops and duplicates removed)."""
        keep = self.src != self.dst
        lo = np.minimum(self.src[keep], self.dst[keep]).astype(np.int64)
        hi = np.maximum(self.src[keep], self.dst[keep]).astype(np.int64)
        key = np.unique(lo * np.int64(self.n) + hi)
        lo = key // self.n
        return lo, key - lo * self.n


def collect_driver_layout(graph: "Graph") -> DriverLayout:
    """One Arrow ``toPandas`` of the edges (plus one of ``nodes`` when
    set), relabelled to positions in numpy; the arrays are read-only."""
    cols = [SRC, DST] + ([WEIGHT] if graph.is_weighted else [])
    pdf = graph.edges.select(*cols).toPandas()
    s = pdf[SRC].to_numpy(dtype=np.int64)
    d = pdf[DST].to_numpy(dtype=np.int64)
    endpoints = [s, d]
    if graph.nodes is not None:
        endpoints.append(
            graph.nodes.select(ID).toPandas()[ID].to_numpy(dtype=np.int64)
        )
    ids = np.unique(np.concatenate(endpoints))
    weights = (
        pdf[WEIGHT].to_numpy(dtype=np.float64) if graph.is_weighted else None
    )
    lay = DriverLayout(
        ids,
        np.searchsorted(ids, s).astype(np.int32),
        np.searchsorted(ids, d).astype(np.int32),
        weights,
    )
    for a in lay:
        if a is not None:
            a.setflags(write=False)
    return lay


def driver_frame(spark, columns: dict, schema: str) -> DataFrame:
    """``columns`` (name -> numpy array, in ``schema`` order) as a
    DataFrame of an RDD of Arrow batches, rows in array order: never a
    driver-side ``LocalRelation``, which below
    ``spark.sql.execution.arrow.localRelationThreshold`` copies every row
    into the plan (``tools/result_path_timing.py``). The threshold is 0
    for this call only (other threads' ``createDataFrame`` calls on the
    session may see it meanwhile); the caller's setting is restored,
    also on error.
    The result has no exact size statistics: wrap it in ``F.broadcast``
    to broadcast it in a join. A 2-D column becomes ``array<double>``
    rows of plain floats, which the non-Arrow path also accepts."""
    pdf = pd.DataFrame({
        k: v.tolist() if np.ndim(v) == 2 else np.asarray(v)
        for k, v in columns.items()
    })
    conf = spark.conf
    with _FRAME_LOCK:
        prev = conf.get(_LOCAL_RELATION_THRESHOLD, None)
        conf.set(_LOCAL_RELATION_THRESHOLD, "0")
        try:
            return spark.createDataFrame(pdf, schema=schema)
        finally:
            if prev is None:
                conf.unset(_LOCAL_RELATION_THRESHOLD)
            else:
                conf.set(_LOCAL_RELATION_THRESHOLD, prev)


@dataclass
class Graph:
    """A graph = edge DataFrame + optional node DataFrame + metadata.

    ``edges`` columns: ``src:long, dst:long[, weight:double]``.
    ``nodes`` columns: ``id:long[, value]`` (NodeSet / NodeMap attached to the
    graph, reference ``plugins/core/types.py:29-56``). When ``nodes`` is None
    the node set is the set of edge endpoints.
    """

    edges: DataFrame
    nodes: Optional[DataFrame] = None
    is_directed: bool = True
    metadata: dict = field(default_factory=dict)

    # ---------------------------------------------------------------- props
    @property
    def is_weighted(self) -> bool:
        return WEIGHT in self.edges.columns

    def node_ids(self) -> DataFrame:
        """All node ids as a single-column DataFrame ``(id:long)``.

        Endpoint union ∪ explicit isolate nodes — matches
        ``util.graph.build`` semantics (``plugins/core/algorithms/utility.py:103-108``:
        nodes argument may add isolates).
        """
        ids = (
            self.edges.select(F.col(SRC).alias(ID))
            .unionAll(self.edges.select(F.col(DST).alias(ID)))
            .distinct()
        )
        if self.nodes is not None:
            ids = ids.unionAll(self.nodes.select(ID)).distinct()
        return ids

    def num_nodes(self) -> int:
        n = self.metadata.get("num_nodes")
        if n is None:
            n = self.node_ids().count()
            self.metadata["num_nodes"] = n
        return n

    def num_edges(self) -> int:
        n = self.metadata.get("num_edges")
        if n is None:
            n = self.edges.count()
            self.metadata["num_edges"] = n
        return n

    def driver_layout(self) -> Optional[DriverLayout]:
        """The :class:`DriverLayout` of the stored edge rows, or ``None``
        above the driver caps (``routing.fits_driver``).

        The first call on a handle collects it (:func:`collect_driver_layout`)
        and keeps it in ``metadata``; later calls reuse it while ``edges``
        and ``nodes`` are the objects it was collected from, so handles
        sharing one metadata dict over the same DataFrames share one
        collect. Like ``num_nodes``, it is a snapshot of those objects:
        reassigning ``edges`` or ``nodes`` collects again, while a source
        that changes under the same DataFrame is not re-read. Nothing is
        collected or kept above the caps. The kept arrays take 8 B per
        vertex and 8 B per edge (16 B when weighted): at most ~240 MB at
        the caps. :meth:`unpersist` drops them."""
        from metagraph_spark.operators import routing

        m = self.num_edges()
        if not routing.fits_driver(m, self.metadata.get("num_nodes", 0)):
            return None
        kept = self.metadata.get(_LAYOUT)
        if (kept is None or kept[0] is not self.edges
                or kept[1] is not self.nodes):
            self.metadata.pop(_LAYOUT, None)
            kept = (self.edges, self.nodes, collect_driver_layout(self))
            if not routing.fits_driver(m, kept[2].n):
                return None
            self.metadata[_LAYOUT] = kept
        return kept[2] if routing.fits_driver(m, kept[2].n) else None

    def sequential_layout(self) -> DriverLayout:
        """:meth:`driver_layout` for the sequential kernels (flow, DFS/A*,
        betweenness, the subisomorphic pattern), whose own ``routing``
        caps lie above the driver caps: there, one collect that is not
        kept."""
        lay = self.driver_layout()
        return collect_driver_layout(self) if lay is None else lay

    def has_negative_weights(self) -> bool:
        """Computed once and cached on the handle (reference computes
        ``min(weights) < 0`` lazily, ``plugins/pandas/types.py:215-222``)."""
        v = self.metadata.get("has_negative_weights")
        if v is None:
            if not self.is_weighted:
                v = False
            else:
                row = self.edges.agg(F.min(WEIGHT).alias("m")).collect()[0]
                v = bool(row["m"] is not None and row["m"] < 0)
            self.metadata["has_negative_weights"] = v
        return v

    # ------------------------------------------------------------ transforms
    def symmetrized(self) -> DataFrame:
        """Both directions of every edge (used by undirected algorithms).

        Reference analog: the scipy translator duplicates non-self-loop edges
        in reverse for undirected graphs (``plugins/scipy/translators.py:120-126``).
        Directed graphs are returned as-is.
        """
        if self.is_directed:
            return self.edges
        cols = [F.col(DST).alias(SRC), F.col(SRC).alias(DST)]
        if self.is_weighted:
            cols.append(F.col(WEIGHT))
        reverse = self.edges.filter(F.col(SRC) != F.col(DST)).select(*cols)
        return self.edges.unionAll(reverse)

    def canonical_undirected_edges(self) -> DataFrame:
        """One row per undirected edge in (min,max) orientation, self-loops
        dropped, duplicates removed. Weighted input keeps the max weight per
        canonical pair (deterministic). Needed before triangle counting
        (reference dedup contract ``plugins/pandas/types.py:171-182``)."""
        e = self.edges.filter(F.col(SRC) != F.col(DST))
        lo = F.least(SRC, DST).alias(SRC)
        hi = F.greatest(SRC, DST).alias(DST)
        if self.is_weighted:
            return e.select(lo, hi, F.col(WEIGHT)).groupBy(SRC, DST).agg(
                F.max(WEIGHT).alias(WEIGHT)
            )
        return e.select(lo, hi).distinct()

    def out_degrees(self, weighted: bool = False) -> DataFrame:
        """``(id, degree)`` over outgoing edges (directed) or incident edges
        counted once per neighbor (undirected, via symmetrization)."""
        e = self.symmetrized()
        agg = F.sum(WEIGHT) if (weighted and self.is_weighted) else F.count(F.lit(1))
        return e.groupBy(F.col(SRC).alias(ID)).agg(agg.alias("degree"))

    def partition_by_src(self, num_partitions: int | None = None) -> "Graph":
        """Hash-partition edges by src and persist — the one-time layout step
        every iterative algorithm amortizes across supersteps (reference
        analog: chunked CSR load, ``core/dask/loader.py:15-74``)."""
        n = num_partitions or self.edges.sparkSession.conf.get(
            "spark.sql.shuffle.partitions"
        )
        e = self.edges.repartition(int(n), SRC).persist()
        # the new edges never hit the kept layout: leave it out so the new
        # handle does not keep the old arrays alive
        meta = {k: v for k, v in self.metadata.items() if k != _LAYOUT}
        meta["partitioned_by_src"] = int(n)
        return Graph(
            edges=e,
            nodes=self.nodes,
            is_directed=self.is_directed,
            metadata=meta,
        )

    def unpersist(self) -> None:
        self.metadata.pop(_LAYOUT, None)
        self.edges.unpersist()


def build(
    edges: DataFrame,
    nodes: Optional[DataFrame] = None,
    is_directed: bool = True,
) -> Graph:
    """``util.graph.build`` (reference ``plugins/core/algorithms/utility.py:103-108``):
    construct a Graph from an EdgeSet/EdgeMap DataFrame plus optional
    NodeSet/NodeMap DataFrame (isolate nodes allowed)."""
    cols = [F.col(SRC).cast("long").alias(SRC), F.col(DST).cast("long").alias(DST)]
    if WEIGHT in edges.columns:
        cols.append(F.col(WEIGHT).cast("double").alias(WEIGHT))
    e = edges.select(*cols)
    if nodes is not None:
        ncols = [F.col(ID).cast("long").alias(ID)]
        if VALUE in nodes.columns:
            ncols.append(F.col(VALUE))
        nodes = nodes.select(*ncols)
    return Graph(edges=e, nodes=nodes, is_directed=is_directed)
