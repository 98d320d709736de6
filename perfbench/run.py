"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs from the root of a source checkout of this repository. One driver
process on ``local[<cpus of this host>]`` issues one engine call at a
time (closed loop, single client). It starts a fresh Spark session, runs
one warm-up pass (a small seed-derived parity graph through the same
calls, checked against networkx and independent oracles), the workload's
set-up three times and one unmeasured unit of the workload's call
sequence, then repeats that unit until ``--seconds`` have passed and it
ran at least the workload's ``min_units`` times. Every output is checked;
for the default seed the discrete results are also compared with
``pinned.json``. The JVMs run with ``-XX:TieredStopAtLevel=1`` (see
``configure_env``).

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1`` (a traced run
alternates untraced and traced units and reports the difference of their
medians as the tracing overhead). Spans of a traced run are written to
``.bench_work/traces/``. Everything the run writes stays under
``.bench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path
from statistics import median

ROOT = Path(__file__).resolve().parents[1]
DEFAULT_SEED = 0
SETUP_REPS = 3
TRACED_MIN_UNITS = 2  # per phase of a traced run


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=20.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(work: Path) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``,
    and let the Python workers import the engine from this checkout."""
    tmp = work / "tmp"
    for d in (tmp, work / "spark-local"):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM (the launcher and the driver): temp files in ``work``, and
    # no hsperfdata files, which the JVM always writes under /tmp. The JIT
    # stops at C1: with C2 a unit kept getting faster for over a minute
    # (4.8 s down to 2.1 s on ``transcript_auto``), at a pace set by how
    # much CPU the host left the compiler threads, so a run's figures
    # depended on how far its compiler had got. With C1 those units were
    # flat from the first one after the warm-up pass.
    opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"{opts} -XX:-UsePerfData -XX:TieredStopAtLevel=1 "
        f"-Djava.io.tmpdir={tmp}".strip())


def start_spark(work: Path, cpus: int):
    from metagraph_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            # the workloads fit in 1 GB, well below the host's memory
            "spark.driver.memory": "1g",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the traced run reads every job and stage back at the end
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def measure(h, wl, phases: list[str], seconds: float, min_units: int) -> None:
    """Repeat the workload's unit until ``seconds`` have passed and every
    phase has had ``min_units`` units, cycling through ``phases`` (a traced
    run alternates untraced and traced units, so JVM warm-up biases
    neither side) and ending on a whole cycle. The unit records its
    metrics under its phase."""
    end = time.perf_counter() + seconds
    n = 0
    while (n % len(phases) or n < min_units * len(phases)
           or time.perf_counter() < end):
        h.phase = phases[n % len(phases)]
        h.tracer.full = h.phase == "traced"
        tag = h.tracer.tag = f"{h.phase}{n}"
        h.unit_times[tag] = wl.unit()
        n += 1


def run(args, work: Path, rss) -> dict:
    from perfbench import report
    from perfbench.harness import Harness, parity_check
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS, StreamRefresh

    cpus = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = start_spark(work, cpus)
    session_s = time.perf_counter() - t0
    tracer = Tracer(spark, full=bool(args.trace))
    try:
        tracer.install()
        h = Harness(spark, tracer, args.seed, str(work))
        wl = WORKLOADS[args.workload](h)
        stream = isinstance(wl, StreamRefresh)

        marks = {"session": session_s}
        # the warm-up pass first: the parity graph runs every code path of
        # the workload once, so JIT compilation is not charged to set-up
        h.phase = tracer.tag = "warmup"
        t = time.perf_counter()
        parity_check(h, wl.parity_strategies)
        warm_s = time.perf_counter() - t

        h.phase = "setup"
        setup_walls = []
        for rep in range(SETUP_REPS):
            tracer.tag = f"setup{rep}"
            t = time.perf_counter()
            wl.setup()
            setup_walls.append(time.perf_counter() - t)
        marks["setup"] = sum(setup_walls)
        tracer.tag = "checks"
        wl.prepare_checks()

        h.phase = tracer.tag = "warmup"
        t = time.perf_counter()
        wl.warmup()
        warm_s += time.perf_counter() - t
        marks["warmup"] = warm_s
        t = time.perf_counter()

        # one more warm-up unit: the first unit is the slowest, because it
        # is the first to run the workload's own plans at full size
        wl.unit()
        if args.trace:
            measure(h, wl, ["plain", "traced"], args.seconds, TRACED_MIN_UNITS)
        else:
            measure(h, wl, ["measure"], args.seconds, wl.min_units)

        marks["measure"] = time.perf_counter() - t
        for err in h.consistency_errors():
            h.fail(err)
        if args.seed == DEFAULT_SEED:
            pinned = json.loads((ROOT / "perfbench" / "pinned.json").read_text())
            want, got = pinned[wl.name], wl.pinned()
            for k, v in want.items():
                if got.get(k) != v:
                    h.fail(f"pinned {k}: got {got.get(k)!r}, expected {v!r}")

        routes = sorted({(c["label"], c["route"]) for c in h.calls
                         if not c["label"].startswith(("parity", "append"))})
        print("routes: " + ", ".join(f"{k}={r}" for k, r in routes))
        print("results: " + json.dumps(wl.pinned(), sort_keys=True))
        print("phase walls: " + ", ".join(f"{k}={v:.2f}s" for k, v in marks.items())
              + f", setup reps={', '.join(f'{v:.2f}' for v in setup_walls)}"
              + ", units=" + ", ".join(f"{u:.2f}" for u in h.unit_times.values()))
        if args.trace:
            tracer.collect_spark_counters()
            out = ROOT / ".bench_work" / "traces"
            out.mkdir(parents=True, exist_ok=True)
            tracer.dump(str(out / f"{wl.name}-seed{args.seed}.json"))
            metrics = report.per_layer(h, wl, tracer, session_s, stream)
        else:
            metrics = None
    finally:
        tracer.uninstall()
        stop_spark(spark)
    peak = rss.stop()
    if metrics is None:
        metrics = report.end_to_end(h, stream, session_s, setup_walls, warm_s,
                                    peak)
    for k, v in metrics.items():
        print(f"{k} = {v['value']:.6g} {v['unit']}")
    print(f"error_rate = {h.failed / max(h.attempted, 1):.6g} "
          f"({h.failed} failed of {h.attempted} calls)")
    return {"correct": h.failed == 0, "attempted": h.attempted,
            "failed": h.failed, "metrics": metrics}


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    try:
        import metagraph_spark
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    if not Path(metagraph_spark.__file__).resolve().is_relative_to(ROOT):
        print(f"perfbench: the engine was found outside {ROOT}", file=sys.stderr)
        return 2
    from perfbench.harness import RssSampler
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = ROOT / ".bench_work" / f"{args.workload}-seed{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work)
    rss = RssSampler()
    rss.start()
    try:
        result = run(args, work, rss)
    finally:
        rss.stop()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
