"""Per-call timing of the four ``transcript_auto`` analytics, with a
fresh Graph handle on every rep and with one handle reused, and the share
of driver-route calls that reuse the handle's kept driver layout.

    python3 tools/cold_layout_timing.py [--seed 0] [--reps 5]

Run it from the root of a checkout. It builds the ``transcript_auto``
graph of ``perfbench`` for the seed, in a Spark session with the
benchmark's settings (``local[<CPUs>]``, 1 GB driver, JIT at C1), and
times pagerank, connected components, LPA (10 rounds) and triangles as the
workload calls them, each result collected with ``toPandas()``. All four
take driver routes, which read ``Graph.driver_layout()``: one Arrow collect
of the edges at the first such call on a handle, kept in its metadata.
After one warm-up rep it runs ``--reps`` reps two ways:

- ``cold``: a fresh directed ``g`` and undirected ``gu`` per rep, each
  with its own copy of the metadata (counts computed untimed, as the
  workload's set-up does). Pagerank and LPA collect the layout of their
  handle, and CC and triangles reuse it: 2 of 4 calls hit;
- ``reused``: one pair of handles for every rep, as the benchmark's units
  do: after the warm-up rep, 4 of 4 calls hit.

Every rep's outputs must equal the first rep's (pagerank to 1e-12). It
prints the median seconds of each call and of their sum per mode, and
the layout cache hits per rep. Everything it writes stays under
``.bench_work/cold_layout/``.
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from pathlib import Path
from statistics import median

import numpy as np

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from perfbench.run import configure_env, start_spark, stop_spark  # noqa: E402

CALLS = ("pagerank", "cc", "lpa", "triangles")


def handles(edges):
    """The workload's two views of one graph: directed ``g`` and the
    undirected ``gu`` over the same edges."""
    from metagraph_spark import graph

    g = graph.build(edges)
    g.num_nodes()
    g.num_edges()
    gu = graph.Graph(edges=g.edges, is_directed=False,
                     metadata=dict(g.metadata))
    return g, gu


def count_collects() -> list:
    """Count the driver-layout collects from here on: one list entry per
    ``graph.collect_driver_layout`` call."""
    from metagraph_spark import graph

    calls, collect = [], graph.collect_driver_layout

    def counted(g):
        calls.append(None)
        return collect(g)

    graph.collect_driver_layout = counted
    return calls


def run_calls(g, gu, lpa_rounds: int) -> tuple[dict, dict]:
    """(call -> seconds, call -> output) of one rep."""
    from metagraph_spark.operators import components, lpa, pagerank, triangles

    fns = {
        "pagerank": lambda: pagerank.pagerank(
            g, tolerance=1e-6, maxiter=100).toPandas(),
        "cc": lambda: components.connected_components(g).toPandas(),
        "lpa": lambda: lpa.label_propagation_community(
            gu, fixed_rounds=lpa_rounds).toPandas(),
        "triangles": lambda: triangles.triangle_count(gu),
    }
    secs, outs = {}, {}
    for call in CALLS:
        t0 = time.perf_counter()
        out = fns[call]()
        secs[call] = time.perf_counter() - t0
        if call == "triangles":
            outs[call] = out
        else:
            col = "rank" if call == "pagerank" else "label"
            out = out.sort_values("id")
            outs[call] = (out["id"].to_numpy(), out[col].to_numpy())
    return secs, outs


def assert_same(a: dict, b: dict) -> None:
    assert a["triangles"] == b["triangles"], (a["triangles"], b["triangles"])
    for call in ("pagerank", "cc", "lpa"):
        (ia, va), (ib, vb) = a[call], b[call]
        assert np.array_equal(ia, ib), call
        if call == "pagerank":
            assert np.allclose(va, vb, rtol=0, atol=1e-12), call
        else:
            assert np.array_equal(va, vb), call


def main(argv=None) -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--reps", type=int, default=5)
    args = p.parse_args(argv)

    work = ROOT / ".bench_work" / "cold_layout"
    configure_env(work)
    from metagraph_spark import ingest
    from perfbench.workloads import TranscriptAuto

    spark = start_spark(work, len(os.sched_getaffinity(0)))
    try:
        tr = ingest.synthesize_transcripts(spark, TranscriptAuto.CONVS,
                                           seed=args.seed)
        g0, _ = ingest.transcript_graph(tr, kind="conv_tool_bipartite")
        edges = g0.edges.persist()
        print(f"seed {args.seed}: {edges.count()} edges")
        rounds = TranscriptAuto.LPA_ROUNDS
        collects = count_collects()
        reused = handles(edges)
        _, ref = run_calls(*reused, rounds)  # warm-up
        times = {"cold": [], "reused": []}
        hits = {mode: 0 for mode in times}
        for _ in range(args.reps):
            for mode in times:
                g, gu = handles(edges) if mode == "cold" else reused
                before = len(collects)
                secs, outs = run_calls(g, gu, rounds)
                hits[mode] += len(CALLS) - (len(collects) - before)
                assert_same(ref, outs)
                times[mode].append(secs)
        for mode, reps in times.items():
            meds = {c: median(r[c] for r in reps) for c in CALLS}
            total = median(sum(r.values()) for r in reps)
            cells = ", ".join(f"{c} {meds[c]:.3f}" for c in CALLS)
            print(f"{mode}: {cells}, sum {total:.3f} s "
                  f"(median of {len(reps)} reps); layout cache hits "
                  f"{hits[mode] / len(reps):g} of {len(CALLS)} calls per rep")
        print(f"outputs equal across handles: triangles={ref['triangles']}")
    finally:
        stop_spark(spark)


if __name__ == "__main__":
    main()
