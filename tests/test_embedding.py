"""embedding.train.hope.katz — parity vs an exact numpy twin of the same
randomized-SVD pipeline, plus spectral/reconstruction quality vs dense SVD.
Reference contract: /root/reference/metagraph/plugins/core/algorithms/
embedding.py:58-63 (abstract only — the reference ships no concrete impl).
"""

import math

import numpy as np
import pytest

from metagraph_spark.exceptions import GraphPropertyError
from metagraph_spark.graph import build
from metagraph_spark.operators import routing
from metagraph_spark.operators.embedding import hope_katz_train
from tests.conftest import df_from_edges

_P31 = 2147483647


def _mix31_np(ids, seed):
    h1 = ((ids % _P31) * 2654435761 + int(seed)) % _P31
    h2 = ((h1 ^ (h1 >> 15)) * 1597334677) % _P31
    return h2 ^ (h2 >> 13)


def _gauss_np(ids, col_idx, seed):
    # ids is an object array of python ints (exact 31-bit arithmetic);
    # cast the uniforms to float64 before the transcendental ops
    u1 = np.asarray(
        (_mix31_np(ids, seed + 2 * col_idx) + 1.0) / float(_P31 + 1), dtype=float
    )
    u2 = np.asarray(
        (_mix31_np(ids, seed + 2 * col_idx + 1) + 1.0) / float(_P31 + 1), dtype=float
    )
    return np.sqrt(-2.0 * np.log(u1)) * np.cos(2.0 * math.pi * u2)


def _fixture_edges(n=20, seed=3):
    rng = np.random.default_rng(seed)
    edges = set()
    while len(edges) < 60:
        s, d = rng.integers(n), rng.integers(n)
        if s != d:
            edges.add((int(s), int(d)))
    return sorted(edges)


def _numpy_hope(edges, n, d, beta, k_terms, power_iters, oversample, seed):
    """Exact twin of hope_katz_train's pipeline with dense algebra."""
    A = np.zeros((n, n))
    for s, t in edges:
        A[s, t] = 1.0
    half, r = d // 2, d // 2 + oversample
    ids = np.arange(n, dtype=object)  # python ints: exact mix31 arithmetic

    omega = np.column_stack(
        [_gauss_np(ids, j, seed).astype(float) for j in range(r)]
    )

    def s_mul(X):
        Y = np.zeros_like(X)
        T = X.copy()
        for _ in range(k_terms):
            T = beta * (A @ T)
            Y += T
        return Y

    def st_mul(X):
        Y = np.zeros_like(X)
        T = X.copy()
        for _ in range(k_terms):
            T = beta * (A.T @ T)
            Y += T
        return Y

    def orth(Y):
        G = Y.T @ Y
        ridge = 1e-12 * max(float(np.trace(G)), 1.0)
        R = np.linalg.cholesky(G + ridge * np.eye(Y.shape[1])).T
        return Y @ np.linalg.inv(R)

    q = orth(s_mul(omega))
    for _ in range(power_iters):
        q = orth(st_mul(q))
        q = orth(s_mul(q))
    z = st_mul(q)
    M = z.T @ z
    evals, u_b = np.linalg.eigh(M)
    order = np.argsort(evals)[::-1][:half]
    sig = np.sqrt(np.maximum(evals[order], 0.0))
    u_b = u_b[:, order]
    dead = sig < 1e-12 * max(sig[0], 1e-300)
    u_b[:, dead] = 0.0
    sig[dead] = 1.0
    src = q @ (u_b * np.sqrt(sig))
    tgt = z @ (u_b / np.sqrt(sig))
    return np.hstack([src, tgt]), sig


@pytest.mark.parametrize("driver_cap", [None, 0])
def test_hope_katz_matches_numpy_twin(spark, monkeypatch, driver_cap):
    # driver_cap None routes the small fixture to the driver kernel; 0
    # (the planner's driver cap below the fixture's edge count) forces the
    # distributed superstep path — both must match the same dense-algebra
    # twin
    edges = _fixture_edges()
    n, d = 20, 8
    g = build(df_from_edges(spark, [(s, t, 1.0) for s, t in edges]), is_directed=True)
    if driver_cap is not None:
        monkeypatch.setattr(routing, "DRIVER_MAX_EDGES", driver_cap)
    want = "kernel-driver" if driver_cap is None else "join"
    assert routing.plan("hope", g, width=d // 2 + 2)[0] == want
    out = hope_katz_train(
        g, embedding_size=d, beta=0.05, k_terms=5, power_iters=1, oversample=2,
        seed=7,
    )
    got = {r["id"]: np.array(r["emb"]) for r in out.collect()}
    expected, _ = _numpy_hope(edges, n, d, 0.05, 5, 1, 2, 7)
    assert len(got) == n and all(len(v) == d for v in got.values())
    # eigenvector signs can flip between float summation orders; the
    # PRODUCT src_i . tgt_j is sign-invariant and is what HOPE preserves
    half = d // 2
    G = np.array([got[i] for i in range(n)])
    S_spark = G[:, :half] @ G[:, half:].T
    S_np = expected[:, :half] @ expected[:, half:].T
    assert np.allclose(S_spark, S_np, atol=1e-8), np.abs(S_spark - S_np).max()
    # and per-column agreement up to sign
    for c in range(d):
        same = np.allclose(G[:, c], expected[:, c], atol=1e-8)
        flip = np.allclose(G[:, c], -expected[:, c], atol=1e-8)
        assert same or flip, c


@pytest.mark.slow
def test_hope_katz_spectral_quality(spark):
    """sigma within a few % of the dense-SVD truth; reconstruction close to
    the best rank-d/2 approximation of the truncated Katz matrix."""
    edges = _fixture_edges(seed=5)
    n, d, beta, K = 20, 8, 0.05, 12
    g = build(df_from_edges(spark, [(s, t, 1.0) for s, t in edges]), is_directed=True)
    out = hope_katz_train(
        g, embedding_size=d, beta=beta, k_terms=K, power_iters=2, oversample=4
    )
    got = {r["id"]: np.array(r["emb"]) for r in out.collect()}
    G = np.array([got[i] for i in range(n)])
    half = d // 2
    S_hat = G[:, :half] @ G[:, half:].T

    A = np.zeros((n, n))
    for s, t in edges:
        A[s, t] = 1.0
    S = np.zeros((n, n))
    P = np.eye(n)
    for _ in range(K):
        P = beta * (A @ P)
        S += P
    U, sd, Vt = np.linalg.svd(S)
    best = np.linalg.norm(S - U[:, :half] * sd[:half] @ Vt[:half])
    err = np.linalg.norm(S - S_hat)
    assert err <= 1.05 * best + 1e-12, (err, best)


def test_hope_driver_cap_counts_symmetrized_edges(spark, monkeypatch):
    """The driver route of an undirected graph collects both directions of
    every edge, so the cap is compared against 2m: a cap between m and 2m
    sends HOPE to the distributed path."""
    from metagraph_spark.operators import embedding

    edges = _fixture_edges()
    g = build(df_from_edges(spark, [(s, t, 1.0) for s, t in edges]),
              is_directed=False)
    m, r = g.num_edges(), 8 // 2 + 2
    monkeypatch.setattr(routing, "DRIVER_MAX_EDGES", 2 * m)
    assert routing.plan("hope", g, width=r)[0] == "kernel-driver"
    monkeypatch.setattr(routing, "DRIVER_MAX_EDGES", 2 * m - 1)
    assert routing.plan("hope", g, width=r)[0] == "join"

    def boom(*a, **kw):  # pragma: no cover - failure path
        raise AssertionError("driver route taken past the symmetrized cap")

    monkeypatch.setattr(embedding, "_hope_driver", boom)
    out = hope_katz_train(g, embedding_size=8, beta=0.05, k_terms=2,
                          power_iters=1, oversample=2, seed=7)
    assert out.count() == len({v for e in edges for v in e})


def test_hope_katz_driver_matches_distributed(spark, monkeypatch):
    """Round-6 driver kernel vs the distributed superstep path on a
    weighted fixture with self-loops and an isolate-support node set:
    same embeddings up to per-column sign (summation-order flips), checked
    through the sign-invariant src_i . tgt_j proximity product."""
    rng = np.random.default_rng(9)
    rows = []
    seen = set()
    while len(rows) < 80:
        s, t = int(rng.integers(25)), int(rng.integers(25))
        if (s, t) in seen:
            continue
        seen.add((s, t))
        rows.append((s, t, float(rng.integers(1, 5))))  # includes self-loops
    g = build(df_from_edges(spark, rows), is_directed=True)
    kw = dict(embedding_size=8, beta=0.05, k_terms=6, power_iters=1,
              oversample=2, seed=13)
    drv = {r["id"]: np.array(r["emb"])
           for r in hope_katz_train(g, **kw).collect()}
    monkeypatch.setattr(routing, "DRIVER_MAX_EDGES", 0)
    dst = {r["id"]: np.array(r["emb"])
           for r in hope_katz_train(g, **kw).collect()}
    assert set(drv) == set(dst)
    ids = sorted(drv)
    D = np.array([drv[i] for i in ids])
    X = np.array([dst[i] for i in ids])
    half = 4
    S_d = D[:, :half] @ D[:, half:].T
    S_x = X[:, :half] @ X[:, half:].T
    assert np.allclose(S_d, S_x, atol=1e-8), np.abs(S_d - S_x).max()
    for c in range(2 * half):
        assert np.allclose(D[:, c], X[:, c], atol=1e-8) or np.allclose(
            D[:, c], -X[:, c], atol=1e-8
        ), c


def test_hope_katz_guards(spark):
    g = build(df_from_edges(spark, [(0, 1, 1.0)]), is_directed=True)
    with pytest.raises(GraphPropertyError, match="embedding_size"):
        hope_katz_train(g, embedding_size=1)
    with pytest.raises(GraphPropertyError, match="beta"):
        hope_katz_train(g, beta=1.5)


@pytest.mark.slow
def test_hope_katz_reference_community_separation(spark):
    """Port of the reference golden (tests/algorithms/test_embedding.py:
    187-262): two dense Erdos-Renyi communities joined by a weak bridge
    must land in two tight, separable clusters in embedding space. The
    reference scores separation with sklearn's GaussianMixture (not in
    this container); the equivalent check here is nearest-centroid purity
    >= 95% per community — the same property the GMM assertions pin."""
    import networkx as nx

    graph_size, p = 100, 0.9
    a_graph = nx.erdos_renyi_graph(graph_size, p=p, directed=True, seed=11)
    a_end = max(a_graph.nodes())
    b_graph = nx.erdos_renyi_graph(graph_size, p=p, directed=True, seed=12)
    b_graph = nx.relabel_nodes(
        b_graph, {i: i + graph_size * 2 for i in a_graph.nodes()}
    )
    b_end = max(b_graph.nodes())
    nxg = nx.compose(a_graph, b_graph)
    for delta in range(5):
        nxg.add_edge(a_end + delta, a_end + delta + 1)
        nxg.add_edge(b_end + delta, b_end + delta + 1)
    center = max(nxg.nodes()) * 2
    nxg.add_edge(a_end + 5, center)
    nxg.add_edge(b_end + 5, center)

    g = build(
        df_from_edges(spark, [(s, t, 1.0) for s, t in nxg.edges()]),
        is_directed=True,
    )
    out = hope_katz_train(
        g, embedding_size=24, beta=0.1, k_terms=6, power_iters=1
    )
    emb = {r["id"]: np.array(r["emb"]) for r in out.collect()}
    a_ids = [n for n in a_graph.nodes() if n in emb]
    b_ids = [n for n in b_graph.nodes() if n in emb]
    A = np.array([emb[i] for i in a_ids])
    B = np.array([emb[i] for i in b_ids])
    # normalize rows so the purity check measures direction, not the
    # (divergent-series) magnitude
    A = A / (np.linalg.norm(A, axis=1, keepdims=True) + 1e-30)
    B = B / (np.linalg.norm(B, axis=1, keepdims=True) + 1e-30)
    mu_a, mu_b = A.mean(axis=0), B.mean(axis=0)
    a_pure = np.mean(
        np.linalg.norm(A - mu_a, axis=1) < np.linalg.norm(A - mu_b, axis=1)
    )
    b_pure = np.mean(
        np.linalg.norm(B - mu_b, axis=1) < np.linalg.norm(B - mu_a, axis=1)
    )
    assert a_pure >= 0.95, a_pure
    assert b_pure >= 0.95, b_pure
