"""Output checks for every benchmark call, plus independent oracles.

The invariant checks run on the driver over numpy copies of the call's
output and of the input edges, so checking costs milliseconds and stays
outside the timed region. Each returns a list of failure messages (empty
when the output is correct).

The oracles (numpy power iteration, union-find, a plain-Python
synchronous LPA and a DuckDB triangle join) share no code with the
engine. ``pin.py`` uses them to pin the default seed's values, and every
run uses them (with networkx) for the small-graph parity check.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

MASS_TOL = 1e-9


# ------------------------------------------------------------------ invariants
def check_ranks(pdf: pd.DataFrame, ids: np.ndarray) -> list[str]:
    """One row per node, no negative rank, rank mass 1 +- 1e-9."""
    errs = []
    got = np.sort(pdf["id"].to_numpy(dtype=np.int64))
    if len(got) != len(ids) or not np.array_equal(got, ids):
        errs.append(f"pagerank: {len(got)} rows for {len(ids)} nodes")
    r = pdf["rank"].to_numpy(dtype=np.float64)
    if len(r) and r.min() < 0:
        errs.append(f"pagerank: negative rank {r.min()!r}")
    mass = float(r.sum())
    if abs(mass - 1.0) > MASS_TOL:
        errs.append(f"pagerank: rank mass {mass!r}")
    return errs


def _labels_by_position(pdf: pd.DataFrame, ids: np.ndarray, what: str):
    """Labels aligned with ``ids`` (sorted), or an error list."""
    got = pdf["id"].to_numpy(dtype=np.int64)
    order = np.argsort(got, kind="stable")
    if len(got) != len(ids) or not np.array_equal(got[order], ids):
        return None, [f"{what}: {len(got)} rows for {len(ids)} nodes"]
    return pdf["label"].to_numpy(dtype=np.int64)[order], []


def check_components(pdf, ids, src, dst) -> list[str]:
    """One row per node; labels agree across every edge; every label is a
    node id no larger than its members and labels itself — with edge
    agreement, each label is the minimum id of its component."""
    lab, errs = _labels_by_position(pdf, ids, "cc")
    if errs:
        return errs
    sp, dp = np.searchsorted(ids, src), np.searchsorted(ids, dst)
    bad = int((lab[sp] != lab[dp]).sum())
    if bad:
        errs.append(f"cc: {bad} edges join different labels")
    if (lab > ids).any():
        errs.append("cc: a label exceeds its node id")
    roots = np.unique(lab)
    pos = np.searchsorted(ids, roots)
    pos = np.minimum(pos, len(ids) - 1)
    if not (np.array_equal(ids[pos], roots) and np.array_equal(lab[pos], roots)):
        errs.append("cc: a label is not the id of a node labelled by it")
    return errs


def check_lpa(pdf, ids) -> list[str]:
    """One row per node; every label is a node id."""
    lab, errs = _labels_by_position(pdf, ids, "lpa")
    if errs:
        return errs
    roots = np.unique(lab)
    pos = np.minimum(np.searchsorted(ids, roots), len(ids) - 1)
    if not np.array_equal(ids[pos], roots):
        errs.append("lpa: a label is not a node id")
    return errs


def check_triangles(count) -> list[str]:
    if not isinstance(count, int) or count < 0:
        return [f"triangles: bad count {count!r}"]
    return []


# --------------------------------------------------------------------- oracles
def positions(src: np.ndarray, dst: np.ndarray):
    ids = np.unique(np.concatenate([src, dst]))
    return ids, np.searchsorted(ids, src), np.searchsorted(ids, dst)


def pagerank_oracle(src, dst, damping=0.85, tol=1e-6, maxiter=100,
                    fixed=None):
    """(ids, ranks, supersteps): unweighted power iteration, dangling mass
    spread uniformly, stop when the L1 change < N*tol (networkx rule)."""
    ids, sp, dp = positions(src, dst)
    n = len(ids)
    outdeg = np.bincount(sp, minlength=n).astype(np.float64)
    dangling = outdeg == 0
    r = np.full(n, 1.0 / n)
    total = fixed if fixed is not None else maxiter
    for it in range(total):
        contrib = np.where(dangling, 0.0, r / np.maximum(outdeg, 1.0))
        new = (damping * np.bincount(dp, weights=contrib[sp], minlength=n)
               + damping * r[dangling].sum() / n + (1.0 - damping) / n)
        err = np.abs(new - r).sum()
        r = new
        if fixed is None and err < n * tol:
            return ids, r, it + 1
    if fixed is None:
        raise RuntimeError("pagerank oracle did not converge")
    return ids, r, total


def components_oracle(src, dst) -> int:
    """Number of connected components (undirected), by union-find."""
    ids, sp, dp = positions(src, dst)
    parent = list(range(len(ids)))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(sp.tolist(), dp.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return sum(1 for x in range(len(ids)) if find(x) == x)


def lpa_oracle(src, dst, max_rounds=50, fixed=None) -> dict[int, int]:
    """Synchronous LPA by the engine's documented rule: every node votes
    for its own label once and each neighbour (canonical undirected edge
    set, self-loops dropped) votes for its label; the winner is the most
    votes, ties to the smallest label; stop when nothing changes."""
    ids = np.unique(np.concatenate([src, dst]))
    nbrs = {int(v): set() for v in ids}
    for a, b in zip(src.tolist(), dst.tolist()):
        if a != b:
            nbrs[a].add(b)
            nbrs[b].add(a)
    lab = {v: v for v in nbrs}
    total = fixed if fixed is not None else max_rounds
    for _ in range(total):
        new = {}
        for v, ns in nbrs.items():
            votes = {lab[v]: 1}
            for u in ns:
                votes[lab[u]] = votes.get(lab[u], 0) + 1
            best = max(votes.values())
            new[v] = min(k for k, c in votes.items() if c == best)
        changed = new != lab
        lab = new
        if fixed is None and not changed:
            break
    return lab


def triangles_oracle(src, dst) -> int:
    """Exact undirected triangle count by a DuckDB three-way join."""
    import duckdb

    edges = pd.DataFrame({"s": src, "d": dst})
    con = duckdb.connect()
    try:
        con.register("edges", edges)
        return int(con.execute(
            """
            WITH e AS (SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
                       FROM edges WHERE s <> d)
            SELECT count(*) FROM e e1
            JOIN e e2 ON e1.b = e2.a
            JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
            """
        ).fetchone()[0])
    finally:
        con.close()
