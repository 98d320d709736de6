"""Layer tracing for the benchmark: wraps the engine's layer functions.

Every wrapped function is patched wherever it is looked up: the module
that defines it and every loaded ``metagraph_spark`` module that imported
it by name (``pagerank.py`` and ``components.py`` import
``truncate_lineage`` directly, so patching ``state`` alone would miss
them). Methods are patched on their class.

Two modes share one wrapper:

- route probes only (untraced runs): each wrapped call bumps a counter in
  the current benchmark call's route record, so every run can check that
  a call took its intended plan. Cost: one dict update per wrapped call.
- full tracing: additionally records a span (id, name, start, end,
  parent, call id) in memory and tags the Spark jobs the span launches
  with a job group named after the span, so that tasks, shuffle bytes,
  executor time, GC time and spill can be attributed to spans from the
  status store once, at the end of the run.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

# (layer, module, attribute) for every wrapped function. ``Class.method``
# attributes are patched on the class. The layer is the span-name prefix.
WRAPPED = [
    ("graph", "metagraph_spark.graph", "build"),
    ("graph", "metagraph_spark.graph", "Graph.num_nodes"),
    ("graph", "metagraph_spark.graph", "Graph.num_edges"),
    ("state", "metagraph_spark.state", "truncate_lineage"),
    ("state", "metagraph_spark.state", "truncate_lineage_partitioned"),
    ("state", "metagraph_spark.state", "LineageManager.materialize"),
    ("state", "metagraph_spark.state", "CheckpointManager.save"),
    ("pagerank", "metagraph_spark.operators.pagerank", "pagerank"),
    ("pagerank", "metagraph_spark.operators.pagerank", "incremental_pagerank"),
    ("kernel", "metagraph_spark.operators.kernel", "build_edge_blocks"),
    ("kernel", "metagraph_spark.operators.kernel", "pagerank_kernel"),
    ("kernel", "metagraph_spark.operators.kernel", "driver_block_arrays"),
    ("kernel", "metagraph_spark.operators.kernel", "_distributed_superstep_loop"),
    ("kernel", "metagraph_spark.operators.kernel", "shared_fs_available"),
    ("kernel_algos", "metagraph_spark.operators.kernel_algos", "cc_kernel"),
    ("kernel_algos", "metagraph_spark.operators.kernel_algos", "lpa_kernel"),
    ("kernel_algos", "metagraph_spark.operators.kernel_algos", "cc_blocks"),
    ("kernel_algos", "metagraph_spark.operators.kernel_algos", "label_blocks"),
    ("kernel_algos", "metagraph_spark.operators.kernel_algos", "_driver_graph_arrays"),
    ("kernel_algos", "metagraph_spark.operators.kernel_algos", "_driver_cc_loop"),
    ("kernel_algos", "metagraph_spark.operators.kernel_algos", "_driver_lpa_loop"),
    ("kernel_algos", "metagraph_spark.operators.kernel_algos", "_distributed_cc_loop"),
    ("kernel_algos", "metagraph_spark.operators.kernel_algos", "_distributed_lpa_loop"),
    ("components", "metagraph_spark.operators.components", "connected_components"),
    ("components", "metagraph_spark.operators.components",
     "incremental_connected_components"),
    ("components", "metagraph_spark.operators.components", "_two_phase_cc"),
    ("components", "metagraph_spark.operators.components", "_min_label_fixpoint"),
    ("lpa", "metagraph_spark.operators.lpa", "label_propagation_community"),
    ("triangles", "metagraph_spark.operators.triangles", "triangle_count"),
    ("tri_kernel", "metagraph_spark.operators.tri_kernel", "triangle_count_kernel"),
    ("tri_kernel", "metagraph_spark.operators.tri_kernel", "_write_sorted_keys"),
    ("tri_kernel", "metagraph_spark.operators.tri_kernel", "_count_ranges"),
    ("streaming", "metagraph_spark.streaming.ingest_stream", "process_edge_batch"),
    ("streaming", "metagraph_spark.streaming.ingest_stream", "current_edges"),
]


def classify_route(call: str, hits: Counter) -> str:
    """The plan a benchmark call took, from the wrapped functions it hit."""
    if call == "pagerank":
        if hits["kernel.pagerank_kernel"]:
            if hits["kernel._distributed_superstep_loop"]:
                return "kernel-distributed"
            return "kernel-driver" if hits["kernel.driver_block_arrays:ok"] else (
                "kernel-broadcast")
        return "join"
    if call == "cc":
        if hits["kernel_algos.cc_kernel"]:
            if hits["kernel_algos._driver_cc_loop"]:
                return "kernel-driver"
            return "kernel-distributed"
        if hits["components._two_phase_cc"]:
            return "two-phase"
        return "hash-min"
    if call == "lpa":
        if hits["kernel_algos.lpa_kernel"]:
            if hits["kernel_algos._driver_lpa_loop"]:
                return "kernel-driver"
            return "kernel-distributed"
        return "join"
    if call == "triangles":
        return "tri_kernel" if hits["tri_kernel.triangle_count_kernel"] else "join"
    return "-"


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    call_id: int | None
    tag: str
    # Spark counters of the jobs tagged with this span (own jobs only)
    own: dict = field(default_factory=dict)


class Tracer:
    """Owns the patches, the span list and the route of the last call."""

    def __init__(self, spark, full: bool):
        self.spark = spark
        self.full = full
        self.spans: list[Span] = []
        self.tag = ""  # run phase of new spans, e.g. "setup0" or "traced3"
        self.last_route = "-"
        self.last_call_sid: int | None = None
        self._stack: list[int] = []
        self._hits: Counter | None = None
        self._calls = 0
        self._call_id: int | None = None
        self._patches: list[tuple[object, str, object]] = []
        self._next = 1

    # ------------------------------------------------------------ patching
    def install(self) -> None:
        for _, modname, _ in WRAPPED:
            importlib.import_module(modname)
        loaded = [m for name, m in list(sys.modules.items())
                  if name.startswith("metagraph_spark") and m is not None]
        for layer, modname, attr in WRAPPED:
            mod = importlib.import_module(modname)
            name = f"{layer}.{attr.split('.')[-1]}"
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                orig = cls.__dict__[meth]
                self._patch(cls, meth, orig, self._wrap(name, orig))
                continue
            orig = getattr(mod, attr)
            wrapper = self._wrap(name, orig)
            for m in loaded:
                for key, val in list(vars(m).items()):
                    if val is orig:
                        self._patch(m, key, orig, wrapper)

    def _patch(self, owner, key, orig, wrapper) -> None:
        setattr(owner, key, wrapper)
        self._patches.append((owner, key, orig))

    def uninstall(self) -> None:
        for owner, key, orig in reversed(self._patches):
            setattr(owner, key, orig)
        self._patches.clear()

    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            hits = tracer._hits
            if hits is not None:
                hits[name] += 1
            with tracer.span(name):
                out = fn(*args, **kwargs)
            # driver_block_arrays returns None when the layout is too big
            # for the kernel driver loop
            if hits is not None and out is not None:
                hits[name + ":ok"] += 1
            return out

        return wrapper

    # --------------------------------------------------------------- spans
    @contextmanager
    def span(self, name: str):
        """A span; with tracing off it records nothing."""
        if not self.full:
            yield
            return
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        sc = self.spark.sparkContext
        sc.setJobGroup(f"span-{sid}", name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                sc.setJobGroup(f"span-{self._stack[-1]}", "")
            else:
                sc._jsc.clearJobGroup()
            self.spans.append(
                Span(sid, name, start, end, parent, self._call_id, self.tag)
            )

    @contextmanager
    def call(self, call: str):
        """One benchmark call into the engine: a root span plus a route
        record. Yields the call's hit counter."""
        self._call_id = self._calls
        self._calls += 1
        self._hits = Counter()
        self.last_call_sid = self._next if self.full else None
        try:
            with self.span(f"call.{call}"):
                yield self._hits
        finally:
            self.last_route = classify_route(call, self._hits)
            self._hits = None
            self._call_id = None

    # ------------------------------------------------------ spark counters
    def collect_spark_counters(self) -> None:
        """Attach each span's own Spark job counters from the status store
        (one pass over jobs and stages, after the listener bus drains)."""
        if not self.full:
            return
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        gw = sc._gateway
        stages = {}
        sl = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0),
                             None)
        for i in range(sl.size()):
            s = sl.apply(i)
            stages[(s.stageId(), s.attemptId())] = {
                "tasks": s.numCompleteTasks(),
                "executor_run_s": s.executorRunTime() / 1000.0,
                "shuffle_bytes": s.shuffleReadBytes() + s.shuffleWriteBytes(),
                "gc_s": s.jvmGcTime() / 1000.0,
                "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            }
        by_stage = defaultdict(list)
        for (sid, _att), v in stages.items():
            by_stage[sid].append(v)
        own = defaultdict(Counter)
        jl = store.jobsList(None)
        for i in range(jl.size()):
            j = jl.apply(i)
            grp = j.jobGroup()
            if grp.isEmpty():
                continue
            g = grp.get()
            if not g.startswith("span-"):
                continue
            c = own[int(g[5:])]
            c["jobs"] += 1
            ids = j.stageIds()
            for k in range(ids.size()):
                for v in by_stage.get(ids.apply(k), []):
                    c.update(v)
        for sp in self.spans:
            sp.own = dict(own.get(sp.sid, {}))

    # ----------------------------------------------------------- reporting
    def inclusive(self) -> dict[int, Counter]:
        """Span id -> Spark counters of the span and all its descendants."""
        total = {sp.sid: Counter(sp.own) for sp in self.spans}
        # spans close children-first, so list order is a post-order
        for sp in self.spans:
            if sp.parent is not None and sp.parent in total:
                total[sp.parent].update(total[sp.sid])
        return total

    def self_times(self, spans: list[Span]) -> Counter:
        """Layer -> self time (span time minus its direct children's)."""
        child = Counter()
        for sp in spans:
            if sp.parent is not None:
                child[sp.parent] += sp.end - sp.start
        out = Counter()
        for sp in spans:
            out[sp.name.split(".")[0]] += (sp.end - sp.start) - child[sp.sid]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {"id": s.sid, "name": s.name, "start": s.start,
                     "end": s.end, "parent": s.parent, "call": s.call_id,
                     "tag": s.tag, **s.own}
                    for s in self.spans
                ],
                f,
            )
