"""The benchmark's workloads.

Each workload builds its inputs from the seed only (through
``ingest.synthesize_transcripts``) and runs the
engine's public calls as a user would. ``setup()`` generates the inputs
and builds and materializes the graph; the benchmark runs it several
times and keeps the last result. ``unit()`` runs the workload's call
sequence once, records ``analytics_s`` (the four analytic calls) and
returns all the seconds spent inside timed calls (output checks run
outside the timed region). Every call runs all four
analytics (pagerank, connected components, LPA, triangles) so every
end-to-end metric exists on every workload.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import contextmanager

import numpy as np
from pyspark.sql import Window
from pyspark.sql import functions as F

from metagraph_spark import graph, ingest
from metagraph_spark.operators import components, lpa, pagerank, triangles
from metagraph_spark.streaming import ingest_stream
from perfbench import checks
from perfbench.harness import Harness


def du(path: str) -> int:
    """Bytes of all regular files under ``path``."""
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


class Workload:
    name = ""
    # call label -> expected route at this workload's size
    routes: dict[str, str] = {}
    # strategy of each warm-up parity call: the one the workload's call uses
    parity_strategies = {"pagerank": "auto", "cc": "auto"}
    # measured units an untraced run takes at least, whatever ``--seconds``:
    # each end-to-end metric is a median over them
    min_units = 3

    def __init__(self, h: Harness):
        self.h = h
        self.spark = h.spark
        self.seed = h.seed

    @contextmanager
    def timed(self, span: str, label: str):
        """Benchmark-side span around a step that is not an engine call
        (materializing lazy ingest or graph plans)."""
        t0 = time.perf_counter()
        with self.h.tracer.span(span):
            yield
        self.h.record(label, time.perf_counter() - t0)

    def setup(self) -> None:
        raise NotImplementedError

    def prepare_checks(self) -> None:
        """Untimed: numpy copies of the input for the output checks."""

    def warmup(self) -> None:
        """Workload-specific part of the warm-up pass."""

    def unit(self) -> float:
        raise NotImplementedError

    def pinned(self) -> dict:
        """Discrete results compared with ``pinned.json`` (default seed)."""
        return {}

    # ---------------------------------------------------------- shared calls
    def analytics(self, g, gu, ids, src, dst, pr_fn, cc_fn, lpa_kwargs: dict,
                  tag: str = "") -> tuple[dict, dict]:
        """pagerank, CC, LPA and triangles on one graph, each checked.
        ``tag`` suffixes the pagerank/CC labels (stream cold epoch).
        Returns (call label -> seconds, discrete results)."""
        h, out, secs = self.h, {}, {}
        sink: list = []
        pr, secs["pagerank"] = h.call(
            "pagerank", lambda: pr_fn(g, sink).toPandas(),
            lambda o: checks.check_ranks(o, ids), self.routes["pagerank" + tag],
            label="pagerank" + tag,
        )
        if pr is not None:
            steps = len(sink)
            out["supersteps"] = steps
            h.calls[-1]["supersteps"] = steps
            h.record("supersteps" + tag, steps)
            h.record("pagerank_eps" + tag, len(src) * steps / secs["pagerank"])
            self.last_ranks = pr
        cc, secs["cc"] = h.call(
            "cc", lambda: cc_fn(g).toPandas(),
            lambda o: checks.check_components(o, ids, src, dst),
            self.routes["cc" + tag], label="cc" + tag,
        )
        if cc is not None:
            out["components"] = int(cc["label"].nunique())
            self.last_labels = cc
        lp, secs["lpa"] = h.call(
            "lpa",
            lambda: lpa.label_propagation_community(gu, **lpa_kwargs).toPandas(),
            lambda o: checks.check_lpa(o, ids), self.routes["lpa"],
        )
        if lp is not None:
            out["lpa_labels"] = int(lp["label"].nunique())
        tri, secs["triangles"] = h.call(
            "triangles", lambda: triangles.triangle_count(gu),
            checks.check_triangles, self.routes["triangles"],
        )
        if tri is not None:
            out["triangles"] = tri
        return secs, out


def edge_arrays(df):
    pdf = df.select("src", "dst").toPandas()
    src = pdf["src"].to_numpy(np.int64)
    dst = pdf["dst"].to_numpy(np.int64)
    return np.unique(np.concatenate([src, dst])), src, dst


class TranscriptAuto(Workload):
    """conv -> tool bipartite graph of synthetic transcripts, below every
    kernel size cap: auto routes every call to the CSR kernels."""

    name = "transcript_auto"
    CONVS = 60_000
    # converged LPA takes a seed-dependent number of rounds on this graph;
    # a fixed count keeps the work the same for every seed
    LPA_ROUNDS = 10
    # a unit takes ~4 s; five of them give the sub-second calls (CC, LPA)
    # a median over five samples
    min_units = 5
    routes = {"pagerank": "kernel-driver", "cc": "kernel-driver",
              "lpa": "kernel-driver", "triangles": "tri_kernel"}

    def setup(self) -> None:
        if getattr(self, "edges", None) is not None:
            self.edges.unpersist()
        with self.timed("ingest.generate", "ingest.generate_s"):
            tr = ingest.synthesize_transcripts(self.spark, self.CONVS,
                                               seed=self.seed)
            g0, _ = ingest.transcript_graph(tr, kind="conv_tool_bipartite")
            edges = self.edges = g0.edges.persist()
            self.edges_n = edges.count()
        with self.timed("graph.layout", "graph.layout_s"):
            self.g = graph.build(edges)
            self.nodes_n = self.g.num_nodes()
            self.g.num_edges()
        self.gu = graph.Graph(edges=self.g.edges, is_directed=False,
                              metadata=dict(self.g.metadata))

    def prepare_checks(self) -> None:
        self.ids, self.src, self.dst = edge_arrays(self.g.edges)

    def unit(self) -> float:
        secs, self.out = self.analytics(
            self.g, self.gu, self.ids, self.src, self.dst,
            lambda g, sink: pagerank.pagerank(
                g, tolerance=1e-6, maxiter=100, metrics_sink=sink),
            components.connected_components, {"fixed_rounds": self.LPA_ROUNDS},
        )
        for k, v in self.out.items():
            self.h.expect_same(k, v)
        t = sum(x or 0.0 for x in secs.values())
        self.h.record("analytics_s", t)
        return t

    def pinned(self) -> dict:
        return {"edges": self.edges_n, "nodes": self.nodes_n, **self.out}


class StreamRefresh(Workload):
    """Micro-batch append plus refresh of every analytic. Epoch 0 (the
    history: all turns of most conversations, the first half of the
    others) is appended during set-up and analysed cold in the warm-up
    pass. Each unit replays epoch 1 (the second halves, so every
    conversation in it continues from the carried last-turn state):
    ``process_edge_batch``, then the edge view from ``current_edges``,
    then pagerank and CC warm-started from epoch 0's results, LPA and
    triangles. A replay of an epoch is the maintenance path's idempotent
    rewrite, so every unit does the same work."""

    name = "stream_refresh"
    HISTORY_CONVS = 5_000
    # The warm pagerank's superstep count follows the batch's new distinct
    # edges. With 600 batch conversations (~80 new edges) it ranged 5-9
    # over seeds 0-9; with 1,500 (~210 new edges) it is 9-11, so the
    # refresh does about the same work for every seed.
    BATCH_CONVS = 1_500
    routes = {"pagerank_cold": "kernel-driver", "cc_cold": "kernel-driver",
              "pagerank": "join", "cc": "hash-min", "lpa": "kernel-driver",
              "triangles": "tri_kernel"}
    parity_strategies = {"pagerank": "join", "cc": "join"}

    def __init__(self, h: Harness):
        super().__init__(h)
        self.in_dir = os.path.join(h.work_dir, "stream_in")
        self.table = os.path.join(h.work_dir, "stream_table")
        self.edge_path = os.path.join(self.table, "edges")
        self.state_path = os.path.join(self.table, "state")
        self.edges = None

    def batch(self, epoch: int):
        return self.spark.read.schema(ingest_stream.TRANSCRIPT_SCHEMA).parquet(
            os.path.join(self.in_dir, f"epoch={epoch}"))

    def refresh(self):
        """Edge view over every appended epoch (benchmark-side step)."""
        t0 = time.perf_counter()
        with self.h.tracer.span("streaming.refresh_edges"):
            if self.edges is not None:
                self.edges.unpersist()
            self.edges = ingest_stream.current_edges(
                self.spark, self.edge_path).persist()
            self.edges.count()
            g = graph.build(self.edges)
            # one graph, two views: the undirected one shares the cached
            # node and edge counts, as on transcript_auto
            gu = graph.Graph(edges=g.edges, is_directed=False,
                             metadata=g.metadata)
        return g, gu, time.perf_counter() - t0

    def setup(self) -> None:
        with self.timed("ingest.generate", "ingest.generate_s"):
            tr = ingest.synthesize_transcripts(self.spark, self.HISTORY_CONVS,
                                               seed=self.seed)
            seq = F.regexp_extract("conv_id", r"(\d+)", 1).cast("long")
            last = F.max("turn_idx").over(Window.partitionBy("conv_id"))
            in_batch = seq < self.BATCH_CONVS
            second_half = F.col("turn_idx") * 2 > last
            tr = ingest.actor_label(tr).withColumn("_late", in_batch & second_half)
            # A batch conversation whose second half names an actor that
            # epoch 0 lacks stays whole in epoch 0. The batch then adds
            # edges but no vertex, so the warm CC takes the same rounds on
            # every seed (a new vertex cost it ~40% more on some seeds).
            known = tr.filter(~F.col("_late")).select("_actor").distinct()
            novel = (tr.filter("_late").join(known, "_actor", "left_anti")
                     .select("conv_id", F.lit(True).alias("_novel")).distinct())
            epoch = (F.col("_late") & F.col("_novel").isNull()).cast("int")
            (tr.join(novel, "conv_id", "left").withColumn("epoch", epoch)
             .drop("_late", "_novel", "_actor", "_kind")
             .write.mode("overwrite").partitionBy("epoch")
             .parquet(self.in_dir))
        with self.timed("graph.layout", "graph.layout_s"):
            shutil.rmtree(self.table, ignore_errors=True)
            ingest_stream.process_edge_batch(self.batch(0), 0, self.edge_path,
                                             self.state_path)
            g, _, _ = self.refresh()
            self.nodes_n = g.num_nodes()
            self.edges_n = g.num_edges()

    def warmup(self) -> None:
        """Epoch 0 analysed cold: the warm starts of every unit."""
        g, gu, _ = self.refresh()
        ids, src, dst = edge_arrays(self.edges)
        _, out = self.analytics(
            g, gu, ids, src, dst,
            lambda g_, sink: pagerank.pagerank(g_, tolerance=1e-6, maxiter=100,
                                               metrics_sink=sink),
            components.connected_components, {}, tag="_cold")
        self.cold_out = out
        self.batch_rows = self.batch(1).count()
        self.prev_ranks = self.spark.createDataFrame(
            self.last_ranks, "id long, rank double")
        self.prev_labels = self.spark.createDataFrame(
            self.last_labels, "id long, label long")

    def unit(self) -> float:
        h = self.h
        batch = self.batch(1)
        _, t_append = h.call(
            "append", lambda: ingest_stream.process_edge_batch(
                batch, 1, self.edge_path, self.state_path),
            lambda _: self.check_delta(), None)
        t_append = t_append or 0.0
        h.record("streaming.batch_s", t_append)
        # the epoch's edge delta and its full state snapshot
        written = du(os.path.join(self.edge_path, "epoch=1")) + du(
            os.path.join(self.state_path, "epoch=1"))
        h.record("streaming.bytes_written", written)
        h.record("streaming.write_amplification",
                 written / du(os.path.join(self.in_dir, "epoch=1")))
        g, gu, t_refresh = self.refresh()
        h.record("streaming.current_edges_s", t_refresh)
        ids, src, dst = edge_arrays(self.edges)
        secs, self.out = self.analytics(
            g, gu, ids, src, dst,
            lambda g_, sink: pagerank.incremental_pagerank(
                g_, self.prev_ranks, tolerance=1e-6, maxiter=100,
                metrics_sink=sink),
            lambda g_: components.incremental_connected_components(
                g_, self.prev_labels), {})
        for k, v in self.out.items():
            if k != "supersteps":
                h.expect_same(k, v)
        analytics = sum(x or 0.0 for x in secs.values())
        h.record("analytics_s", analytics)
        t = t_append + t_refresh + analytics
        h.record("freshness_s", t)
        return t

    def check_delta(self) -> list[str]:
        """Every batch row is a second-half turn, so each one closes
        exactly one adjacency with its predecessor (carried from epoch 0
        or in the batch): the epoch's deltas must sum to the row count."""
        got = self.spark.read.parquet(
            os.path.join(self.edge_path, "epoch=1")
        ).agg(F.sum("weight_delta")).collect()[0][0]
        if got != self.batch_rows:
            return [f"append: {got} adjacencies for {self.batch_rows} turns"]
        return []

    def pinned(self) -> dict:
        return {"edges": self.edges_n, "nodes": self.nodes_n,
                **{f"{k}_e0": v for k, v in self.cold_out.items()},
                **{f"{k}_e1": v for k, v in self.out.items()
                   if k != "supersteps"}}


WORKLOADS = {w.name: w for w in (TranscriptAuto, StreamRefresh)}
