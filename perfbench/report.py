"""End-to-end and per-layer metrics from one benchmark run."""

from __future__ import annotations

from collections import defaultdict
from statistics import median

# name -> unit, in the order BENCHMARK.json lists them
END_TO_END = {
    "setup_s": "s",
    "analytics_s": "s",
    "freshness_s": "s",
    "pagerank_s": "s",
    "pagerank_eps": "edges/s",
    "cc_s": "s",
    "lpa_s": "s",
    "triangles_s": "s",
    "peak_rss_gb": "GB",
}

# layers whose self time is reported ("call" is the benchmark's own share:
# collecting results and the wrappers)
SELF_LAYERS = ["graph", "state", "pagerank", "kernel", "kernel_algos",
               "components", "lpa", "triangles", "tri_kernel", "streaming",
               "call"]

# Times that are zero by construction on a workload that never enters the
# layer are reported as shares (ratios) instead, so that every time below
# is a measured, non-zero reading on every workload.
PER_LAYER = {
    "session.start_s": "s",
    "ingest.generate_s": "s",
    "ingest.edges": "count",
    "ingest.nodes": "count",
    "graph.layout_s": "s",
    "graph.layout_shuffle_bytes": "bytes",
    "kernel.build_edge_blocks_calls": "count",
    "kernel.layout_share": "ratio",
    "kernel.layout_reuse": "ratio",
    "kernel_algos.lpa_kernel_s": "s",
    "kernel_algos.layout_s": "s",
    "pagerank.supersteps": "count",
    "pagerank.warm_supersteps": "count",
    "pagerank.s_per_superstep": "s",
    "pagerank.jobs": "count",
    "pagerank.tasks": "count",
    "pagerank.shuffle_bytes": "bytes",
    "pagerank.executor_run_s": "s",
    "state.truncate_calls": "count",
    "components.jobs": "count",
    "components.shuffle_bytes": "bytes",
    "components.executor_run_s": "s",
    "tri_kernel.s": "s",
    "tri_kernel.shuffle_bytes": "bytes",
    "tri_kernel.executor_run_s": "s",
    "streaming.batch_share": "ratio",
    "streaming.current_edges_share": "ratio",
    "streaming.bytes_written": "bytes",
    "streaming.write_amplification": "ratio",
    "spark.gc_share": "ratio",
    "spark.spill_bytes": "bytes",
    **{f"{layer}.self_share": "ratio" for layer in SELF_LAYERS},
    "trace.unit_s": "s",
    "trace.untraced_unit_s": "s",
    "trace.overhead_s": "s",
    "trace.spans_per_unit": "count",
}


def _med(vals, default=0.0):
    vals = [v for v in vals if v is not None]
    return median(vals) if vals else default


def end_to_end(h, stream: bool, session_s: float, setup_walls: list,
               warm_s: float, peak_gb: float) -> dict:
    """Medians over the measured units of an untraced run (one sample per
    unit and metric)."""
    s = defaultdict(list, h.samples["measure"])
    analytics = _med(s["analytics_s"])
    fresh = _med(s["freshness_s"]) if stream else median(setup_walls) + analytics
    values = {
        "setup_s": session_s + median(setup_walls) + warm_s,
        "analytics_s": analytics,
        "freshness_s": fresh,
        "pagerank_s": _med(s["pagerank_s"]),
        "pagerank_eps": _med(s["pagerank_eps"]),
        "cc_s": _med(s["cc_s"]),
        "lpa_s": _med(s["lpa_s"]),
        "triangles_s": _med(s["triangles_s"]),
        "peak_rss_gb": peak_gb,
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}


def per_layer(h, wl, tracer, session_s: float, stream: bool) -> dict:
    """Per-layer metrics of a traced run: per-unit values are medians over
    the traced units, per-call values medians over the traced calls."""
    spans = tracer.spans
    by_sid = {sp.sid: sp for sp in spans}
    incl = tracer.inclusive()
    by_tag = defaultdict(list)
    for sp in spans:
        by_tag[sp.tag].append(sp)
    units = [t for t in h.unit_times if t.startswith("traced")]
    setups = [t for t in by_tag if t.startswith("setup")]

    def per_unit(fn, tags=units):
        return _med([fn(by_tag[t]) for t in tags])

    def dur(ss, *names):
        return sum(sp.end - sp.start for sp in ss if sp.name in names)

    def cnt(ss, name):
        return sum(1 for sp in ss if sp.name == name)

    def inc(ss, name, key):
        return sum(incl[sp.sid].get(key, 0) for sp in ss if sp.name == name)

    def top_state(ss):
        return [sp for sp in ss if sp.name.startswith("state.")
                and not (sp.parent in by_sid
                         and by_sid[sp.parent].name.startswith("state."))]

    def roots(ss, key):
        return sum(incl[sp.sid].get(key, 0) for sp in ss if sp.parent is None)

    calls = [c for c in h.calls if c["phase"] == "traced"]

    def call_vals(label, fn):
        return [fn(c) for c in calls if c["label"] == label]

    def call_med(label, key):
        return _med(call_vals(label, lambda c: incl[c["sid"]].get(key, 0)))

    def layout_reuse(ss):
        tag = ss[0].tag if ss else None
        steps = sum(c.get("supersteps", 0) for c in calls
                    if c["tag"] == tag and c["route"].startswith("kernel")
                    and c["label"].startswith("pagerank"))
        builds = cnt(ss, "kernel.build_edge_blocks")
        return steps / builds if builds else 0.0

    def share(num, den):
        return num / den if den else 0.0

    traced = h.samples["traced"]
    fresh = _med(traced["freshness_s"])
    cold = "pagerank_cold" if stream else "pagerank"
    m = {
        "session.start_s": session_s,
        "ingest.generate_s": h.med("ingest.generate_s", "setup", 0.0),
        "ingest.edges": wl.edges_n,
        "ingest.nodes": wl.nodes_n,
        "graph.layout_s": h.med("graph.layout_s", "setup", 0.0),
        "graph.layout_shuffle_bytes": per_unit(
            lambda ss: inc(ss, "graph.layout", "shuffle_bytes"), setups),
        "kernel.build_edge_blocks_calls": per_unit(
            lambda ss: cnt(ss, "kernel.build_edge_blocks")),
        "kernel.layout_share": per_unit(lambda ss: share(
            dur(ss, "kernel.build_edge_blocks"),
            dur(ss, "kernel.pagerank_kernel"))),
        "kernel.layout_reuse": per_unit(layout_reuse),
        "kernel_algos.lpa_kernel_s": per_unit(
            lambda ss: dur(ss, "kernel_algos.lpa_kernel")),
        "kernel_algos.layout_s": per_unit(lambda ss: dur(
            ss, "kernel_algos.cc_blocks", "kernel_algos.label_blocks",
            "kernel_algos._driver_graph_arrays")),
        "pagerank.supersteps": _med([c["supersteps"] for c in h.calls
                                     if c["label"] == cold]),
        "pagerank.warm_supersteps": _med(call_vals(
            "pagerank", lambda c: c["supersteps"])) if stream else 0.0,
        "pagerank.s_per_superstep": _med(call_vals(
            "pagerank", lambda c: c["s"] / max(c["supersteps"], 1))),
        "pagerank.jobs": call_med("pagerank", "jobs"),
        "pagerank.tasks": call_med("pagerank", "tasks"),
        "pagerank.shuffle_bytes": call_med("pagerank", "shuffle_bytes"),
        "pagerank.executor_run_s": call_med("pagerank", "executor_run_s"),
        "state.truncate_calls": per_unit(lambda ss: len(top_state(ss))),
        "components.jobs": call_med("cc", "jobs"),
        "components.shuffle_bytes": call_med("cc", "shuffle_bytes"),
        "components.executor_run_s": call_med("cc", "executor_run_s"),
        "tri_kernel.s": per_unit(
            lambda ss: dur(ss, "tri_kernel.triangle_count_kernel")),
        "tri_kernel.shuffle_bytes": per_unit(
            lambda ss: inc(ss, "tri_kernel.triangle_count_kernel",
                           "shuffle_bytes")),
        "tri_kernel.executor_run_s": per_unit(
            lambda ss: inc(ss, "tri_kernel.triangle_count_kernel",
                           "executor_run_s")),
        "streaming.batch_share": share(_med(traced["streaming.batch_s"]), fresh),
        "streaming.current_edges_share": share(
            _med(traced["streaming.current_edges_s"]), fresh),
        "streaming.bytes_written": _med(traced["streaming.bytes_written"]),
        "streaming.write_amplification": _med(
            traced["streaming.write_amplification"]),
        "spark.gc_share": per_unit(lambda ss: share(
            roots(ss, "gc_s"), roots(ss, "executor_run_s"))),
        "spark.spill_bytes": per_unit(lambda ss: roots(ss, "spill_bytes")),
    }
    for layer in SELF_LAYERS:
        m[f"{layer}.self_share"] = per_unit(
            lambda ss, layer=layer: share(tracer.self_times(ss)[layer],
                                          h.unit_times[ss[0].tag] if ss else 0))
    # a unit's timed seconds: analytics_s on batch workloads, freshness_s
    # on stream_refresh
    t_traced = _med(h.unit_times[t] for t in units)
    t_plain = _med(v for t, v in h.unit_times.items() if t.startswith("plain"))
    m["trace.unit_s"] = t_traced
    m["trace.untraced_unit_s"] = t_plain
    m["trace.overhead_s"] = t_traced - t_plain
    m["trace.spans_per_unit"] = per_unit(len)
    return {k: {"value": m[k], "unit": u} for k, u in PER_LAYER.items()}
