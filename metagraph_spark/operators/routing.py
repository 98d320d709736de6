"""Route planner: the one place that decides which physical route an
operator call takes, and the only module that holds size caps.

Reference analog: metagraph's Resolver picks one concrete implementation
per call from the argument types (``metagraph/core/resolver.py:133-146``);
here :func:`plan` picks one route per call from the Graph's cached counts
and the call's options. Tests move a boundary by monkeypatching the
constants below; every operator reads them at call time.

Route table (``n`` vertices, ``m`` edges the layout holds — see
:func:`layout_edges`):

============  ====================================================
op            routes, first match wins
============  ====================================================
pagerank      ``join`` for ``strategy="join"``, a warm start or a
katz, cc,     checkpointer (cc: ``hash-min``, or ``two-phase`` for a
lpa           converged run with ``m >= TWO_PHASE_MIN_EDGES``);
              ``kernel-driver`` when ``n <= DRIVER_MAX_VERTICES`` and
              ``m <= DRIVER_MAX_EDGES``; ``kernel-distributed`` (the
              file-backed slice-store loop) when ``kernel_spill_dir``
              is given, or ``m <= KERNEL_AUTO_MAX_EDGES`` and the
              temp dir is on a shared filesystem; else ``join``
triangles     ``tri_kernel`` when ``n <= DRIVER_MAX_VERTICES`` and
              ``m <= DRIVER_MAX_EDGES`` (keys built in the driver process,
              no shared-FS probe; counted there up to
              ``DRIVER_MAX_WEDGES`` wedges, else by one Spark job over
              the broadcast keys); above the caps ``tri_kernel`` when
              the spill (or temp) dir is shared; else ``join``
eigenvector,  ``join`` for ``strategy="join"``; ``kernel-driver`` when
hits          ``n <= DRIVER_MAX_VERTICES`` and ``m <= DRIVER_MAX_EDGES``;
              ``kernel-broadcast`` (one broadcast gather job per
              superstep over file-backed blocks in a temp dir) when
              ``n <= KERNEL_MAX_VERTICES``, ``m <= KERNEL_AUTO_MAX_EDGES``
              and the temp dir is on a shared filesystem; else ``join``
hope          ``kernel-driver`` when ``n <= DRIVER_MAX_VERTICES``,
              ``m <= DRIVER_MAX_EDGES`` and
              ``n·r <= HOPE_BROADCAST_MAX_VALUES``; else ``join``
max_flow,     the sequential driver kernel when
min_cut, dfs, ``m <= SEQUENTIAL_MAX_EDGES``; else ``GraphPropertyError``
astar
betweenness   the broadcast-CSR kernel when ``m <= BETWEENNESS_MAX_EDGES``;
              else ``"auto"`` runs the distributed strategy
subiso        the driver search when the pattern has
              ``<= SUBISO_MAX_PATTERN_NODES`` nodes and the degree screen
              keeps ``<= SUBISO_MAX_EDGES`` edges; else raises
closeness     all nodes only when ``n <= CLOSENESS_ALL_NODES_LIMIT``
============  ====================================================

Every driver route (``kernel-driver`` of pagerank, katz, CC, LPA,
eigenvector, HITS and HOPE, ``tri_kernel`` within the driver caps, and
the sequential kernels) reads the stored edge rows from
``Graph.driver_layout``, collected at the first such call on a handle and
kept on it (the sequential kernels above the driver caps: collected per
call, ``Graph.sequential_layout``); :func:`plan` collects nothing. Every
kernel route needs ``n <= POSITIONAL_MAX_VERTICES`` (int32
positions). An explicit ``strategy="kernel"`` skips the auto edge cap and
raises ``ValueError`` where no kernel route exists.
"""

from __future__ import annotations

import tempfile

# Driver loops: the whole superstep loop runs in numpy on the driver over
# once-collected arrays, with no Spark job per superstep. Below this size
# the per-superstep job floor (~0.2-0.3 s: task scheduling + Arrow result
# assembly, measured on the 100-superstep katz kernel row) dwarfs the
# gather itself (~10 ms at 1.2M edges). ~16 B per edge: 80 MB at the cap.
DRIVER_MAX_EDGES = 5_000_000
# ... and the dense driver vectors (8 B x V each) stay bounded for sparse
# many-vertex graphs too.
DRIVER_MAX_VERTICES = 20_000_000
# Within those caps the triangle kernel counts in the driver process up to
# this many degree-ordered wedges; past it the count of the in-memory keys
# fans out to one Spark job. Measured on zipf_graph at 3-4.5M edges,
# local[4]: one driver thread vs the job over 4 edge-balanced ranges,
# 1.0 vs 1.2 s at 4.1M wedges, 2.2 vs 2.0 s at 9.4M, 3.9 vs 3.3 s at 30M,
# 18-22 vs 10-14 s at 254M.
DRIVER_MAX_WEDGES = 10_000_000

# "auto" sends graphs above the driver caps to the file-backed kernel only
# up to this edge count: the one-time block layout (a full |E| shuffle plus
# per-block packing — 131.9 s at 100M edges, BENCH_r04
# extras.big_cc_kernel_layout_sec) is not amortized by a single run at
# larger |E|, where the join plan starts iterating at once.
# ``kernel_spill_dir`` bypasses it.
KERNEL_AUTO_MAX_EDGES = 20_000_000

# Positional layouts store int32 positions; the triangle kernel's rank keys
# ``ra*n + rb`` fit int64 under the same bound.
POSITIONAL_MAX_VERTICES = 2**31 - 1

# Above the driver caps, eigenvector and HITS kernels broadcast a dense
# driver vector every superstep (``kernel_algos._gather_once``); above this
# the join plan runs.
KERNEL_MAX_VERTICES = 50_000_000

# Join plans broadcast the |V|-row vertex state into the superstep join
# (one shuffle-free stage per superstep, guide §2.4/§3.1) up to this vertex
# count: ~16 B a row plus framing, ~0.5 GB at the cap. Used by pagerank
# (fixed supersteps), katz (fixed supersteps) and LPA.
BROADCAST_MAX_VERTICES = 16_000_000

# HOPE broadcasts (and its driver route holds) a |V| x r dense state:
# ~8 B a value plus framing, ~200 MB at the cap.
HOPE_BROADCAST_MAX_VALUES = 25_000_000

# Converged CC on the join route: below this edge count hash-min with
# pointer jumping (one |E|-row join per round) beats two-phase
# large-star/small-star (~4 shuffles and 2 distincts per round), which only
# pays off once its shrinking edge set dominates (two-phase cost
# transcript_cc 4.1->7.3 s and copurchase_cc 3.4->5.5 s below 1M edges
# while winning 4x at 100M edges — BENCH r3 vs r4).
TWO_PHASE_MIN_EDGES = 5_000_000

# Sequential driver kernels (max-flow/min-cut, DFS, A*): each step
# depends on the last, so the whole CSR is held on the driver.
SEQUENTIAL_MAX_EDGES = 10_000_000
# The betweenness kernel broadcasts its CSR to every task.
BETWEENNESS_MAX_EDGES = 50_000_000
# subisomorphic's driver search: exponential in the pattern's nodes, and
# it collects the edges the distributed degree screen keeps.
SUBISO_MAX_PATTERN_NODES = 16
SUBISO_MAX_EDGES = 1_000_000
# Closeness over all nodes keeps S·V relaxation state rows.
CLOSENESS_ALL_NODES_LIMIT = 100_000

# ops whose layout gathers over ``graph.symmetrized()``: both directions of
# an undirected graph's edges
_SYMMETRIZED = ("pagerank", "katz", "hope", "eigenvector", "dfs",
                "astar_search", "betweenness")
_NAMES = {"cc": "connected_components", "triangles": "triangle_count"}


def layout_edges(op: str, graph) -> int:
    """Edges the op's layout holds: ``m``, or ``2m`` for the ops that
    gather over both directions of an undirected graph."""
    m = graph.num_edges()
    return 2 * m if op in _SYMMETRIZED and not graph.is_directed else m


def fits_driver(m: int, n: int = 0) -> bool:
    """True when ``m`` edges and ``n`` vertices fit the driver loops."""
    return m <= DRIVER_MAX_EDGES and n <= DRIVER_MAX_VERTICES


def fits_positions(n: int) -> bool:
    """True when ``n`` vertices fit int32 positional layouts."""
    return n <= POSITIONAL_MAX_VERTICES


def fits_broadcast(n: int, m: int = 0) -> bool:
    """True when a join plan may broadcast its ``n``-row vertex state."""
    return n <= BROADCAST_MAX_VERTICES and m <= KERNEL_AUTO_MAX_EDGES


def fits_broadcast_values(values: int) -> bool:
    """True when a dense ``|V| x r`` state (HOPE) may be broadcast or held
    on the driver."""
    return values <= HOPE_BROADCAST_MAX_VALUES


def _fmt(x: int) -> str:
    if x >= 1_000_000:
        return f"{x / 1e6:.1f}M"
    return f"{round(x / 1e3)}k" if x >= 1_000 else str(x)


def _shared_fs(graph, spill_dir: str | None = None) -> bool:
    from metagraph_spark.operators import kernel

    return kernel.shared_fs_available(
        graph.edges.sparkSession, spill_dir or tempfile.gettempdir()
    )


def plan(
    op: str,
    graph,
    strategy: str = "auto",
    checkpointer=None,
    spill_dir: str | None = None,
    warm_start=None,
    *,
    fixed: bool = False,
    width: int = 1,
) -> tuple[str, str]:
    """``(route, reason)`` for one call of ``op`` on ``graph``.

    ``strategy`` is the call's ``"auto"``/``"kernel"``/``"join"``;
    ``checkpointer``, ``spill_dir`` (``kernel_spill_dir``) and
    ``warm_start`` are the call's options. ``fixed`` marks a fixed-round
    run (cc only: it keeps hash-min); ``width`` is HOPE's state width
    ``r``. Reads only the Graph's cached counts, and probes the shared
    filesystem only for routes above the driver caps. Raises
    ``ValueError`` for an unknown strategy and for an explicit
    ``"kernel"`` that no kernel route can honour."""
    if strategy not in ("join", "kernel", "auto"):
        raise ValueError(f"unknown {_NAMES.get(op, op)} strategy {strategy!r}")
    if strategy == "kernel" and checkpointer is not None:
        # the kernels keep no durable per-superstep state: silently
        # dropping a requested checkpointer would lose resume-ability
        raise ValueError(
            "strategy='kernel' keeps no durable per-superstep state and "
            "cannot honor a checkpointer; use strategy='join' or 'auto'"
        )
    if strategy == "kernel" and warm_start is not None:
        raise ValueError(
            "strategy='kernel' cannot seed from warm_start (the kernel "
            "layouts start uniform); use strategy='join' or 'auto'"
        )
    if strategy == "join":
        return _join_route(op, graph, fixed, checkpointer, warm_start,
                           "strategy='join'")
    if warm_start is not None or checkpointer is not None:
        why = "warm start" if warm_start is not None else "checkpointer"
        return _join_route(op, graph, fixed, checkpointer, warm_start, why)

    if op == "triangles":
        if strategy == "kernel":
            return "tri_kernel", "strategy='kernel'"
        n, m = graph.num_nodes(), graph.num_edges()
        if fits_driver(m, n):
            return "tri_kernel", f"n={_fmt(n)}, m={_fmt(m)} <= DRIVER_MAX_EDGES"
        if not fits_positions(n):
            return "join", f"n={_fmt(n)} > POSITIONAL_MAX_VERTICES"
        if _shared_fs(graph, spill_dir):
            return "tri_kernel", f"n={_fmt(n)}, shared FS"
        return "join", "no shared FS for the key file"

    n, m = graph.num_nodes(), layout_edges(op, graph)
    sizes = f"n={_fmt(n)}, m={_fmt(m)}"
    if op == "hope":
        if fits_driver(m, n) and fits_broadcast_values(n * width):
            return "kernel-driver", f"{sizes} <= DRIVER_MAX_EDGES"
        return "join", f"{sizes} > DRIVER_MAX_EDGES/HOPE_BROADCAST_MAX_VALUES"
    if fits_driver(m, n):
        return "kernel-driver", f"{sizes} <= DRIVER_MAX_EDGES"
    if op in ("eigenvector", "hits"):
        return _broadcast_route(op, graph, strategy, n, m, sizes)
    if not fits_positions(n):
        if strategy == "kernel":
            raise ValueError(
                f"{op} kernels need n < 2^31 int32 positions (got {n}); "
                "use strategy='join'"
            )
        return _join_route(op, graph, fixed, None, None,
                           f"{sizes} > POSITIONAL_MAX_VERTICES")
    if spill_dir is not None:
        return "kernel-distributed", f"{sizes} > DRIVER_MAX_EDGES, spill dir"
    if strategy == "auto" and m > KERNEL_AUTO_MAX_EDGES:
        return _join_route(op, graph, fixed, None, None,
                           f"{sizes} > KERNEL_AUTO_MAX_EDGES")
    if _shared_fs(graph):
        return "kernel-distributed", f"{sizes} > DRIVER_MAX_EDGES, shared FS"
    if strategy == "kernel":
        raise ValueError(
            f"{op} above the driver caps ({sizes}) needs the file-backed "
            "layout, and the temp dir is not on a filesystem shared with "
            "the executors; pass kernel_spill_dir on a shared filesystem "
            "or use strategy='join'"
        )
    return _join_route(op, graph, fixed, None, None,
                       f"{sizes} > DRIVER_MAX_EDGES, no shared FS")


def _broadcast_route(op, graph, strategy, n, m, sizes):
    """Eigenvector/HITS above the driver caps: the broadcast gather over
    file-backed blocks, or ``join``."""
    if n > KERNEL_MAX_VERTICES:
        why = f"{sizes} > KERNEL_MAX_VERTICES"
    elif strategy == "auto" and m > KERNEL_AUTO_MAX_EDGES:
        return "join", f"{sizes} > KERNEL_AUTO_MAX_EDGES"
    elif _shared_fs(graph):
        return "kernel-broadcast", f"{sizes} > DRIVER_MAX_EDGES, shared FS"
    else:
        why = f"{sizes} > DRIVER_MAX_EDGES, no shared FS"
    if strategy == "kernel":
        raise ValueError(
            f"{op} above the driver caps ({why}) has no kernel route: its "
            "broadcast gather needs n <= KERNEL_MAX_VERTICES and a temp dir "
            "on a filesystem shared with the executors; use strategy='join'"
        )
    return "join", why


def _join_route(op, graph, fixed, checkpointer, warm_start, why):
    if op != "cc":
        return "join", why
    if fixed or checkpointer is not None or warm_start is not None:
        return "hash-min", why
    m = graph.num_edges()
    if m >= TWO_PHASE_MIN_EDGES:
        return "two-phase", f"{why}; m={_fmt(m)} >= TWO_PHASE_MIN_EDGES"
    return "hash-min", f"{why}; m={_fmt(m)} < TWO_PHASE_MIN_EDGES"
