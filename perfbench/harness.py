"""Call recording, memory sampling and the small-graph parity check."""

from __future__ import annotations

import os
import sys
import threading
import time
import traceback
from collections import defaultdict
from statistics import median

import numpy as np

from perfbench import checks


class Harness:
    """Runs benchmark calls: times each one, checks its output and route,
    and counts attempts and failures. A failure is counted, reported on
    stderr and never skipped; the run goes on."""

    def __init__(self, spark, tracer, seed: int, work_dir: str):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.work_dir = work_dir
        self.attempted = 0
        self.failed = 0
        self.phase = "warmup"
        # phase -> metric label -> samples
        self.samples: dict[str, dict[str, list]] = defaultdict(
            lambda: defaultdict(list))
        # call label -> distinct discrete results seen (must stay one)
        self.results: dict[str, set] = defaultdict(set)
        # one record per successful call: label, phase, seconds, root span
        self.calls: list[dict] = []
        # measured unit tag -> seconds in timed calls
        self.unit_times: dict[str, float] = {}

    def record(self, label: str, value) -> None:
        self.samples[self.phase][label].append(value)

    def fail(self, msg: str) -> None:
        self.failed += 1
        print(f"CHECK FAILED [{self.phase}] {msg}", file=sys.stderr)

    def call(self, kind: str, fn, check, route: str | None, label=None):
        """Run ``fn`` (which must return a materialized result) as call
        ``kind``; returns ``(output, seconds)`` or ``(None, None)``."""
        label = label or kind
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.call(kind):
                out = fn()
        except Exception:  # a failed call is counted, the run goes on
            self.fail(f"{label} raised:\n{traceback.format_exc()}")
            return None, None
        dt = time.perf_counter() - t0
        errs = list(check(out))
        got = self.tracer.last_route
        if route is not None and got != route:
            errs.append(f"{label}: route {got!r}, expected {route!r}")
        if errs:
            self.fail("; ".join(errs))
        self.record(f"{label}_s", dt)
        self.calls.append({"label": label, "phase": self.phase, "s": dt,
                           "route": got, "tag": self.tracer.tag,
                           "sid": self.tracer.last_call_sid})
        return out, dt

    def expect_same(self, label: str, value) -> None:
        """Discrete results must not change between repeats of a call."""
        self.results[label].add(value)

    def consistency_errors(self) -> list[str]:
        return [f"{k}: results differ between repeats: {sorted(v)}"
                for k, v in self.results.items() if len(v) > 1]

    def med(self, label: str, phase: str | None = None, default=None):
        vals = self.samples[phase or self.phase].get(label)
        return median(vals) if vals else default


class RssSampler:
    """Peak memory of the benchmark's Python processes: this process and
    every Python worker the Spark JVM starts, sampled from ``/proc``. Each
    process counts its proportional set size (PSS), so pages the forked
    workers share with each other count once. The JVM is left out: its
    resident size follows the configured heap size more than the engine's
    use of it. One sample reads every process's ``stat`` file and the
    ``smaps_rollup`` of each process in the tree, ~14 ms in the driver's
    interpreter, so it runs once a second: at five a second it competed
    with the sub-second calls for the interpreter."""

    def __init__(self, interval: float = 1.0):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _read(path: str) -> str:
        try:
            with open(path) as f:
                return f.read()
        except OSError:  # the process has exited
            return ""

    def _tree_pss(self) -> int:
        children = defaultdict(list)
        for d in os.listdir("/proc"):
            if d.isdigit() and (stat := self._read(f"/proc/{d}/stat")):
                ppid = int(stat.rsplit(")", 1)[1].split()[1])
                children[ppid].append(int(d))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            if self._read(f"/proc/{pid}/comm").strip() == "java":
                continue
            for line in self._read(f"/proc/{pid}/smaps_rollup").splitlines():
                if line.startswith("Pss:"):
                    total += int(line.split()[1]) * 1024
                    break
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._tree_pss())
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        """Stop sampling; returns the peak in GB."""
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, self._tree_pss())
        return self.peak / 1e9


def parity_check(h: Harness, strategies: dict) -> None:
    """Small seed-derived graph through the same public calls, with the
    strategy the workload uses for each call (``strategies`` maps pagerank
    and cc to "auto" or "join"). Auto pagerank (CSR kernel): converged and
    allclose 1e-6 to networkx. Join pagerank: fixed supersteps against the
    numpy oracle at the same count (a converged join run would take
    minutes here). LPA (auto) is exact against the plain-Python oracle
    (networkx has no deterministic synchronous LPA). CC partition and
    triangle count are exact against networkx on either route. It also serves as the run's
    warm-up pass: the JVM and the Python workers run every code path
    once."""
    import networkx as nx
    from networkx.algorithms.link_analysis.pagerank_alg import _pagerank_python

    from metagraph_spark import graph, ingest
    from metagraph_spark.operators import components, lpa, pagerank, triangles

    pdf = (ingest.zipf_graph(h.spark, 300, 900, seed=h.seed + 7919)
           .distinct().toPandas())
    src = pdf["src"].to_numpy(np.int64)
    dst = pdf["dst"].to_numpy(np.int64)
    e = h.spark.createDataFrame(pdf)
    g = graph.build(e)
    gu = graph.build(e, is_directed=False)
    dg = nx.DiGraph(list(zip(src.tolist(), dst.tolist())))
    ug = nx.Graph(dg.to_undirected())
    ug.remove_edges_from(list(nx.selfloop_edges(ug)))
    pr_join = strategies["pagerank"] == "join"
    cc_join = strategies["cc"] == "join"
    pr_iters = 5 if pr_join else None

    def pr_check(out):
        if pr_join:
            ids, r, _ = checks.pagerank_oracle(src, dst, fixed=pr_iters)
            ref = dict(zip(ids.tolist(), r.tolist()))
        else:
            ref = _pagerank_python(dg, alpha=0.85, tol=1e-13, max_iter=2000)
        got = dict(zip(out["id"].tolist(), out["rank"].tolist()))
        if set(got) != set(ref):
            return ["parity pagerank: node sets differ"]
        a = np.array([got[k] for k in ref])
        b = np.array([ref[k] for k in ref])
        return [] if np.allclose(a, b, rtol=0, atol=1e-6) else [
            f"parity pagerank: max diff {np.abs(a - b).max()!r}"]

    def partition(out):
        groups = defaultdict(set)
        for i, lab in zip(out["id"].tolist(), out["label"].tolist()):
            groups[lab].add(i)
        return sorted(sorted(s) for s in groups.values())

    def cc_check(out):
        ref = sorted(sorted(c) for c in nx.connected_components(ug))
        return [] if partition(out) == ref else ["parity cc: partition differs"]

    def lpa_check(out):
        ref = checks.lpa_oracle(src, dst)
        got = dict(zip(out["id"].tolist(), out["label"].tolist()))
        return [] if got == ref else ["parity lpa: labels differ"]

    def tri_check(out):
        ref = sum(nx.triangles(ug).values()) // 3
        return [] if out == ref else [f"parity triangles: {out} != {ref}"]

    pr_args = ({"fixed_iterations": pr_iters, "strategy": "join"} if pr_join
               else {"tolerance": 1e-11, "maxiter": 1000})
    h.call("pagerank", lambda: pagerank.pagerank(g, **pr_args).toPandas(),
           pr_check, "join" if pr_join else "kernel-driver",
           label="parity_pagerank")
    h.call("cc", lambda: components.connected_components(
        gu, strategy=strategies["cc"]).toPandas(), cc_check,
        "hash-min" if cc_join else "kernel-driver", label="parity_cc")
    h.call("lpa", lambda: lpa.label_propagation_community(gu).toPandas(),
           lpa_check, "kernel-driver", label="parity_lpa")
    h.call("triangles", lambda: triangles.triangle_count(gu), tri_check,
           "tri_kernel", label="parity_triangles")
