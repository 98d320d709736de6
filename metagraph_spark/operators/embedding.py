"""embedding.train.hope.katz — distributed HOPE embedding training.

Reference contract (abstract def ``plugins/core/algorithms/embedding.py:
58-63``): ``hope_katz_train(Graph(edge_type=map, is_directed=True),
embedding_size, beta) -> (Matrix, NodeMap)`` — HOPE (high-order proximity
preserved embedding) over the Katz proximity matrix
``S = sum_{k>=1} beta^k A^k``: the rank-``d/2`` SVD ``S ~ U diag(s) V^T``
yields a source embedding ``U sqrt(s)`` and a target embedding
``V sqrt(s)``, concatenated per node. The reference ships NO concrete
implementation — this one exceeds it.

Physical plan — a fully distributed randomized truncated SVD that touches
``S`` only through mat-vec supersteps (``S`` itself is never formed):

1. ``Omega`` (n x r, r = d/2 + oversample): deterministic per-(node, col)
   Box–Muller gaussians from the cross-engine mix31 hash — partition- and
   replay-independent, reproducible in numpy for parity tests.
2. ``Y = S Omega`` via the Katz series: ``T <- beta A T``, ``Y += T``,
   ``k_terms`` supersteps — each ONE edges⋈state join + groupBy, all r
   columns carried as plain double columns (pure JVM, whole-stage codegen,
   zero UDFs).
3. Orthonormalize by Gram + Cholesky: ``G = Y^T Y`` is ONE r(r+1)/2-column
   aggregate (driver gets r x r); ``Q = Y R^{-1}`` is a per-row linear
   combination — no distributed QR needed because r is tiny.
4. ``power_iters`` subspace iterations (``Q <- orth(S (orth(S^T Q)))``)
   sharpen the spectrum (measured: sigma rel-err 21% -> 1.5% at q=2 on a
   fast-decaying Katz spectrum).
5. ``Z = S^T Q``; ``M = Z^T Z`` (r x r, driver); ``eigh(M)`` gives the
   singular triplets: ``U = Q U_B``, ``V = Z U_B / s`` — again per-row
   column combinations.

Driver state is O(r^2) throughout; per-superstep state is |V| x r doubles,
hash-partitioned by id. Scale: supersteps = (2*power_iters + 2) * k_terms,
each a single shuffle join — the same cost envelope as ``katz`` itself.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from metagraph_spark.exceptions import GraphPropertyError
from metagraph_spark.graph import DST, ID, SRC, WEIGHT, Graph, driver_frame
from metagraph_spark.operators import routing
from metagraph_spark.operators.subgraph import _P31, mix31
from metagraph_spark.state import truncate_lineage

_TWO_PI = 2.0 * math.pi


def _gauss_expr(id_col, col_idx: int, seed: int):
    """Deterministic standard gaussian per (id, column): Box–Muller over two
    mix31 uniforms. Cross-replicable in numpy (tests) bit-for-bit."""
    u1 = (mix31(id_col, seed + 2 * col_idx) + F.lit(1.0)) / F.lit(float(_P31 + 1))
    u2 = (mix31(id_col, seed + 2 * col_idx + 1) + F.lit(1.0)) / F.lit(
        float(_P31 + 1)
    )
    return F.sqrt(F.lit(-2.0) * F.log(u1)) * F.cos(F.lit(_TWO_PI) * u2)


def _series_mul(
    edges: DataFrame,
    state: DataFrame,
    cols: list,
    beta: float,
    k_terms: int,
    join_on: str,
    group_as: str,
    broadcast_state: bool = False,
) -> DataFrame:
    """``sum_{k=1..K} beta^k M^k X`` where ``M x`` joins ``edges`` on
    ``join_on`` and aggregates to ``group_as`` (M = A when join_on=dst,
    M = A^T when join_on=src).

    State stays SPARSE: absent rows are exact zeros, contribute nothing to
    the next product, and are materialized only once at the very end — so a
    superstep is exactly ONE shuffle (the product join+agg); the series
    accumulation is a SINGLE union + groupBy-sum after the last term
    (round 6, guide §2.4 — the previous per-term outer-merge join paid a
    second |V|-row shuffle and materialization in every superstep; the
    union-sum pays one, total, and is associativity-equivalent: float sums
    reorder within the numpy-twin test tolerance)."""
    t = state
    parts = []
    for _ in range(k_terms):
        side = t.select(
            F.col(ID).alias(join_on),
            *[F.col(c).alias(f"_{c}") for c in cols],
        )
        if broadcast_state:
            # guide §2.4/§3.1: ``edges`` is keyed by ``group_as`` here, so
            # broadcasting the |V|·r state makes the join AND the groupBy
            # partition-local — a superstep is one shuffle-free stage
            joined = edges.join(F.broadcast(side), join_on)
        else:
            joined = edges.join(side.hint("shuffle_hash"), join_on)
        prod = joined.groupBy(F.col(group_as).alias(ID)).agg(
            *[
                (F.lit(beta) * F.sum(F.col(WEIGHT) * F.col(f"_{c}"))).alias(c)
                for c in cols
            ]
        )
        t = truncate_lineage(prod)
        parts.append(t)
    if len(parts) == 1:
        return parts[0]
    acc = parts[0]
    for p in parts[1:]:
        acc = acc.unionAll(p)
    return truncate_lineage(
        acc.groupBy(ID).agg(*[F.sum(F.col(c)).alias(c) for c in cols])
    )


def _orth_np(Y: np.ndarray) -> np.ndarray:
    """Driver-side orthonormalization — the same Gram + ridge + Cholesky
    arithmetic as ``_orthonormalize`` runs on the aggregated G."""
    G = Y.T @ Y
    ridge = 1e-12 * max(float(np.trace(G)), 1.0)
    R = np.linalg.cholesky(G + ridge * np.eye(Y.shape[1])).T
    return Y @ np.linalg.inv(R)


def _mix31_np(ids: np.ndarray, seed: int) -> np.ndarray:
    """int64 numpy twin of ``subgraph.mix31`` — every intermediate is
    bounded by (2^31) * 2654435761 < 2^63, and numpy's ``%`` matches
    Spark's ``pmod`` (non-negative result), so the hash is exact for any
    signed 64-bit id."""
    h1 = ((ids % _P31) * np.int64(2654435761) + np.int64(seed)) % _P31
    h2 = ((h1 ^ (h1 >> 15)) * np.int64(1597334677)) % _P31
    return h2 ^ (h2 >> 13)


def _gauss_np(ids: np.ndarray, col_idx: int, seed: int) -> np.ndarray:
    u1 = (_mix31_np(ids, seed + 2 * col_idx) + 1.0) / float(_P31 + 1)
    u2 = (_mix31_np(ids, seed + 2 * col_idx + 1) + 1.0) / float(_P31 + 1)
    return np.sqrt(-2.0 * np.log(u1)) * np.cos(_TWO_PI * u2)


def _hope_driver(
    spark,
    graph: Graph,
    half: int,
    r: int,
    beta: float,
    k_terms: int,
    power_iters: int,
    seed: int,
) -> DataFrame:
    """Driver kernel: the identical pipeline over the Graph's driver layout.

    The edge list is ``graph.symmetrized()`` in its collect order
    (:meth:`DriverLayout.symmetrized` of :meth:`Graph.driver_layout`, the
    handle's one kept collect), weight 1.0 when unweighted, and the node
    set its sorted ids (the endpoints ∪ the explicit node set, the
    universe of ``graph.node_ids()``, no distinct job); omega comes from
    the numpy mix31 twin (hash arithmetic exact; the Box–Muller log/cos
    may differ from the JVM's by an ulp — orders of magnitude inside the
    1e-8 numpy-twin tolerance, and hope_katz has no driver oracle row).
    The mat-vec supersteps become deterministic weighted ``np.bincount``
    sums over the edge list sorted by its group endpoint (one bincount
    per state column), and every dense step (Gram, Cholesky, eigh,
    column combos) is the exact driver arithmetic the distributed path
    already runs on its aggregated r x r matrices. Float sums reorder vs
    the distributed partial aggs within the numpy-twin test tolerance —
    the same caveat the round-6 union-sum series merge documented."""
    lay = graph.driver_layout()
    ids_sorted = lay.ids
    src, dst, w = lay.symmetrized(graph.is_directed)
    if w is None:
        w = np.ones(len(src))
    omega = np.column_stack(
        [_gauss_np(ids_sorted, j, seed) for j in range(r)]
    ) if len(ids_sorted) else np.zeros((0, r))

    n = len(ids_sorted)

    def _make_mul(group_idx, gather_idx):
        # Y[g] = sum over edges in group g of w * T[gather]: sort the edge
        # list by the group endpoint once (sequential accumulate writes),
        # then each column is one weighted bincount — measured 2.2x over
        # the 2D gather + add.reduceat shape (no |E| x r temporary), and
        # deterministic (fixed edge order per pass)
        o = np.argsort(group_idx, kind="stable")
        g, a, ww = group_idx[o], gather_idx[o], w[o]

        def mul(T):
            Y = np.empty_like(T)
            for j in range(T.shape[1]):
                Y[:, j] = np.bincount(g, weights=ww * T[a, j], minlength=n)
            return Y

        return mul

    s_mul = _make_mul(src, dst)  # Y = A X   (aggregate by src, gather dst)
    st_mul = _make_mul(dst, src)  # Y = A^T X

    def _series(mul, X):
        T, Y = X, np.zeros_like(X)
        for _ in range(k_terms):
            T = beta * mul(T)
            Y = Y + T
        return Y

    q = _orth_np(_series(s_mul, omega))
    for _ in range(power_iters):
        q = _orth_np(_series(st_mul, q))
        q = _orth_np(_series(s_mul, q))
    z = _series(st_mul, q)

    M = z.T @ z
    evals, u_b = np.linalg.eigh(M)
    top = np.argsort(evals)[::-1][:half]
    sig = np.sqrt(np.maximum(evals[top], 0.0))
    u_b = u_b[:, top]
    dead = sig < 1e-12 * max(float(sig[0]) if len(sig) else 0.0, 1e-300)
    u_b[:, dead] = 0.0
    sig[dead] = 1.0

    emb = np.hstack([q @ (u_b * np.sqrt(sig)), z @ (u_b / np.sqrt(sig))])
    return driver_frame(spark, {ID: ids_sorted, "emb": emb},
                        f"{ID} long, emb array<double>")


def _gram(df: DataFrame, cols: list) -> np.ndarray:
    """X^T X as one aggregate job; only the r x r result reaches the driver."""
    r = len(cols)
    exprs = []
    for i in range(r):
        for j in range(i, r):
            exprs.append(
                F.sum(F.col(cols[i]) * F.col(cols[j])).alias(f"g_{i}_{j}")
            )
    row = df.agg(*exprs).collect()[0]
    G = np.zeros((r, r))
    for i in range(r):
        for j in range(i, r):
            G[i, j] = G[j, i] = row[f"g_{i}_{j}"]
    return G


def _col_combo(df: DataFrame, cols: list, coef: np.ndarray, out_prefix: str):
    """Per-row linear combination: out_j = sum_i cols[i] * coef[i, j]."""
    out_cols = []
    for j in range(coef.shape[1]):
        expr = None
        for i, c in enumerate(cols):
            term = F.col(c) * F.lit(float(coef[i, j]))
            expr = term if expr is None else expr + term
        out_cols.append(expr.alias(f"{out_prefix}{j}"))
    return df.select(ID, *out_cols), [f"{out_prefix}{j}" for j in range(coef.shape[1])]


def _orthonormalize(df: DataFrame, cols: list, out_prefix: str):
    """Q = Y R^{-1} with G = Y^T Y = R^T R (Cholesky). Adds a tiny ridge if
    the sketch is numerically rank-deficient so Cholesky cannot fail."""
    G = _gram(df, cols)
    ridge = 1e-12 * max(float(np.trace(G)), 1.0)
    R = np.linalg.cholesky(G + ridge * np.eye(len(cols))).T
    return _col_combo(df, cols, np.linalg.inv(R), out_prefix)


def hope_katz_train(
    graph: Graph,
    embedding_size: int = 16,
    beta: float = 0.05,
    k_terms: int = 12,
    power_iters: int = 2,
    oversample: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Train HOPE-katz embeddings; returns ``(id, emb array<double>)`` with
    ``len(emb) == 2 * (embedding_size // 2)`` — source half then target
    half (the reference's (Matrix, NodeMap) collapses to one DataFrame,
    same as every NodeMap in this engine). See module docstring for the
    distributed randomized-SVD plan."""
    if embedding_size < 2:
        raise GraphPropertyError("embedding_size must be >= 2")
    if embedding_size > 128:
        # the per-row column combinations generate O(r^2) expression nodes
        # (r = d/2 + oversample); past ~128 dims that stops being a
        # codegen-friendly plan — refuse loudly rather than degrade
        raise GraphPropertyError(
            "embedding_size > 128 would generate O(r^2) codegen expression "
            "nodes; split the training into column blocks instead"
        )
    if not (0.0 < beta < 1.0):
        raise GraphPropertyError("beta must be in (0, 1)")
    half = embedding_size // 2
    r = half + oversample
    spark = graph.edges.sparkSession
    # size-routed driver kernel: within the driver caps (counted on the
    # edges the driver gathers over — both directions of an undirected
    # graph) and the |V|·r broadcast budget, the superstep chain is
    # job-floor-bound, not compute-bound — run the identical pipeline on
    # the driver over the Graph's driver layout instead of
    # ~(2q+2)*k_terms Spark jobs
    route, _ = routing.plan("hope", graph, width=r)
    if route == "kernel-driver":
        return _hope_driver(
            spark, graph, half, r, beta, k_terms, power_iters, seed,
        )
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    edges = graph.symmetrized() if not graph.is_directed else graph.edges
    if graph.is_weighted:
        edges = edges.select(SRC, DST, WEIGHT)
    else:
        edges = edges.select(SRC, DST, F.lit(1.0).alias(WEIGHT))
    # two cached layouts: the S pass joins on dst and aggregates by src,
    # the S^T pass the reverse. With a small |V|·r state each pass feeds
    # off the cache keyed by its GROUP column and BROADCASTS the state:
    # join and aggregation are then partition-local — one shuffle-free
    # stage per superstep (guide §2.4). Past the broadcast budget both
    # passes fall back to shuffle joins on the join-keyed caches.
    edges_by_dst = edges.repartition(n_part, DST).persist()
    edges_by_src = edges.repartition(n_part, SRC).persist()
    nodes = truncate_lineage(graph.node_ids()).persist()
    bcast = routing.fits_broadcast_values(graph.num_nodes() * r)
    s_edges = edges_by_src if bcast else edges_by_dst
    st_edges = edges_by_dst if bcast else edges_by_src
    if bcast:
        # materialize both caches so superstep plans see their layouts
        edges_by_src.count()
        edges_by_dst.count()

    cols = [f"v{j}" for j in range(r)]
    omega = truncate_lineage(
        nodes.select(
            ID, *[_gauss_expr(F.col(ID), j, seed).alias(cols[j]) for j in range(r)]
        )
    )
    # Y = S Omega; subspace iterations; Z = S^T Q
    y = _series_mul(s_edges, omega, cols, beta, k_terms, DST, SRC,
                    broadcast_state=bcast)
    q, qcols = _orthonormalize(y, cols, "q")
    q = truncate_lineage(q)
    for _ in range(power_iters):
        z = _series_mul(st_edges, q, qcols, beta, k_terms, SRC, DST,
                        broadcast_state=bcast)
        q, qcols = _orthonormalize(z, qcols, "q")
        q = truncate_lineage(q)
        y = _series_mul(s_edges, q, qcols, beta, k_terms, DST, SRC,
                        broadcast_state=bcast)
        q, qcols = _orthonormalize(y, qcols, "q")
        q = truncate_lineage(q)
    z = _series_mul(st_edges, q, qcols, beta, k_terms, SRC, DST,
                    broadcast_state=bcast)
    z = truncate_lineage(z)

    M = _gram(z, qcols)
    evals, u_b = np.linalg.eigh(M)
    order = np.argsort(evals)[::-1][:half]
    sig = np.sqrt(np.maximum(evals[order], 0.0))
    u_b = u_b[:, order]
    # rank-deficient sketch (tiny graphs, half > rank): zero those
    # components outright instead of dividing by ~0 for V
    dead = sig < 1e-12 * max(sig[0], 1e-300)
    u_b[:, dead] = 0.0
    sig[dead] = 1.0

    # U sqrt(s) = Q (U_B diag(sqrt(s))); V sqrt(s) = Z (U_B diag(s^{-1/2}))
    src_emb, src_cols = _col_combo(q, qcols, u_b * np.sqrt(sig), "s")
    tgt_emb, tgt_cols = _col_combo(z, qcols, u_b / np.sqrt(sig), "t")
    # sparse states may have different supports; the single final densify
    # over all nodes happens here (absent rows = exact-zero embeddings)
    emb_cols = src_cols + tgt_cols
    out = (
        nodes.join(src_emb, ID, "left")
        .join(tgt_emb, ID, "left")
        .select(
            ID,
            F.array(
                *[F.coalesce(F.col(c), F.lit(0.0)) for c in emb_cols]
            ).alias("emb"),
        )
    )
    out = truncate_lineage(out)
    edges_by_dst.unpersist()
    edges_by_src.unpersist()
    nodes.unpersist()
    return out
