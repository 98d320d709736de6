"""flow.max_flow / flow.min_cut.

Reference contracts (abstract defs ``plugins/core/algorithms/flow.py:7-30``):

- ``max_flow(Graph(edge_type=map), source, target) -> (float, Graph)`` —
  flow value + a graph whose edge weights are the per-edge flow; contains
  all nodes of the input (scipy impl ``plugins/scipy/algorithms.py:193-205``,
  nx impl ``plugins/networkx/algorithms.py:295-314``).
- ``min_cut(...) -> (float, Graph)`` — sum of minimum-cut weights + a graph
  containing exactly the cut edges (nx ``networkx/algorithms.py:315-336``:
  edges from the source-side reachable set to its complement).

Physical scope: augmenting-path max-flow is inherently sequential (every
augmentation depends on the previous residual), so — like betweenness —
this is a DRIVER KERNEL: one Arrow pass assembles the positional CSR with
paired residual arcs, Edmonds–Karp (BFS shortest augmenting paths) runs in
numpy/python on the driver, and only the resulting flow/cut EDGE TABLES go
back to Spark. An explicit ``max_edges`` guard refuses graphs that do not
fit this scope instead of OOMing; at 10^12 edges no engine runs exact
max-flow — the reference's own impls are single-threaded scipy/networkx.
"""

from __future__ import annotations

from collections import deque

import numpy as np

from metagraph_spark.exceptions import GraphPropertyError
from metagraph_spark.graph import DST, ID, SRC, WEIGHT, Graph, driver_frame

MAXFLOW_MAX_EDGES = 10_000_000


def _arrow_csr(graph: Graph):
    """One Arrow pass → (node_arr, src_pos, dst_pos, cap) positional arrays."""
    if not graph.is_weighted:
        raise GraphPropertyError("max_flow requires an EdgeMap (weights=capacities)")
    if not graph.is_directed:
        raise GraphPropertyError("max_flow requires a directed graph")
    m = graph.num_edges()
    if m > MAXFLOW_MAX_EDGES:
        raise GraphPropertyError(
            f"max_flow is a driver kernel (sequential augmenting paths); "
            f"graph has {m} edges > max {MAXFLOW_MAX_EDGES}"
        )
    nodes_tbl = graph.node_ids().toArrow()
    node_arr = np.sort(nodes_tbl.column(ID).to_numpy())
    e_tbl = graph.edges.select(SRC, DST, WEIGHT).toArrow()
    src_pos = np.searchsorted(node_arr, e_tbl.column(SRC).to_numpy())
    dst_pos = np.searchsorted(node_arr, e_tbl.column(DST).to_numpy())
    cap = e_tbl.column(WEIGHT).to_numpy().astype(np.float64)
    if (cap < 0).any():
        raise GraphPropertyError("max_flow requires non-negative capacities")
    return node_arr, src_pos, dst_pos, cap


def _resolve_st(node_arr, source_node: int, target_node: int) -> tuple[int, int]:
    """Map source/target ids to positions, validating membership —
    np.searchsorted on a missing id would otherwise silently return the
    insertion position and compute the flow/cut from the wrong node."""
    n = len(node_arr)
    s = int(np.searchsorted(node_arr, source_node))
    t = int(np.searchsorted(node_arr, target_node))
    if not (0 <= s < n and node_arr[s] == source_node):
        raise ValueError(f"source node {source_node} not in graph")
    if not (0 <= t < n and node_arr[t] == target_node):
        raise ValueError(f"target node {target_node} not in graph")
    return s, t


def _edmonds_karp(n, src_pos, dst_pos, cap, s, t):
    """Edmonds–Karp over paired forward/backward arcs. Returns
    (flow_value, flow_per_edge, residual_reachable_mask)."""
    m = len(src_pos)
    # arc 2i = forward edge i (residual = cap - flow), arc 2i+1 = backward
    heads = np.empty(2 * m, dtype=np.int64)
    heads[0::2] = dst_pos
    heads[1::2] = src_pos
    resid = np.zeros(2 * m, dtype=np.float64)
    resid[0::2] = cap
    # adjacency: arcs grouped by their tail
    tails = np.empty(2 * m, dtype=np.int64)
    tails[0::2] = src_pos
    tails[1::2] = dst_pos
    order = np.argsort(tails, kind="stable")
    indptr = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(np.bincount(tails, minlength=n), out=indptr[1:])
    arc_of = order  # position j in adjacency -> arc id

    flow_value = 0.0
    eps = 1e-12
    while True:
        parent_arc = np.full(n, -1, dtype=np.int64)
        parent_arc[s] = -2
        q = deque([s])
        while q and parent_arc[t] == -1:
            u = q.popleft()
            for j in range(indptr[u], indptr[u + 1]):
                a = arc_of[j]
                v = heads[a]
                if parent_arc[v] == -1 and resid[a] > eps:
                    parent_arc[v] = a
                    q.append(v)
        if parent_arc[t] == -1:
            break
        # bottleneck along the path (tail(a) == head(a^1) for paired arcs)
        bott = np.inf
        v = t
        while v != s:
            a = parent_arc[v]
            bott = min(bott, resid[a])
            v = heads[a ^ 1]
        v = t
        while v != s:
            a = parent_arc[v]
            resid[a] -= bott
            resid[a ^ 1] += bott
            v = heads[a ^ 1]
        flow_value += bott
    flow = cap - resid[0::2]
    flow[np.abs(flow) < eps] = 0.0
    # source-side reachable set in the final residual graph
    reach = np.zeros(n, dtype=bool)
    reach[s] = True
    q = deque([s])
    while q:
        u = q.popleft()
        for j in range(indptr[u], indptr[u + 1]):
            a = arc_of[j]
            v = heads[a]
            if not reach[v] and resid[a] > eps:
                reach[v] = True
                q.append(v)
    return flow_value, flow, reach


def max_flow(
    graph: Graph, source_node: int, target_node: int
) -> tuple[float, Graph]:
    """Returns ``(flow_value, flow_graph)`` — flow_graph's edge weights are
    the flow routed on each original edge (zero-flow edges dropped, all
    input nodes kept), matching the nx flow_dict semantics."""
    spark = graph.edges.sparkSession
    node_arr, src_pos, dst_pos, cap = _arrow_csr(graph)
    s, t = _resolve_st(node_arr, source_node, target_node)
    value, flow, _ = _edmonds_karp(len(node_arr), src_pos, dst_pos, cap, s, t)
    keep = flow > 0
    flow_edges = driver_frame(
        spark,
        {SRC: node_arr[src_pos[keep]], DST: node_arr[dst_pos[keep]],
         WEIGHT: flow[keep]},
        "src long, dst long, weight double",
    )
    fg = Graph(edges=flow_edges, nodes=graph.node_ids(), is_directed=True)
    return float(value), fg


def min_cut(
    graph: Graph, source_node: int, target_node: int
) -> tuple[float, Graph]:
    """Returns ``(cut_value, cut_graph)`` — cut_graph contains exactly the
    edges crossing from the source-side residual-reachable set to its
    complement (the canonical minimum cut), with their original capacities;
    all input nodes kept. cut_value == max_flow value (duality)."""
    spark = graph.edges.sparkSession
    node_arr, src_pos, dst_pos, cap = _arrow_csr(graph)
    s, t = _resolve_st(node_arr, source_node, target_node)
    value, _, reach = _edmonds_karp(len(node_arr), src_pos, dst_pos, cap, s, t)
    keep = reach[src_pos] & ~reach[dst_pos]
    cut_edges = driver_frame(
        spark,
        {SRC: node_arr[src_pos[keep]], DST: node_arr[dst_pos[keep]],
         WEIGHT: cap[keep]},
        "src long, dst long, weight double",
    )
    cg = Graph(edges=cut_edges, nodes=graph.node_ids(), is_directed=True)
    return float(value), cg
