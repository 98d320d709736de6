"""The benchmark's own tests: each workload, at its chosen size, takes its
intended route on every call and passes every output check.

    python3 -m pytest perfbench/test_routes.py -m slow -q

Each case starts a benchmark run (a Spark session of its own), so the
file takes a few minutes; it is marked ``slow`` so that a plain
``pytest`` run of the repository leaves it out. A size that silently
flips a route (for example an input grown past a kernel cap) fails here.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from perfbench.workloads import WORKLOADS  # noqa: E402

pytestmark = pytest.mark.slow


def run(workload: str, trace: int = 0) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    lines = out.stdout.strip().splitlines()
    routes = next(line for line in lines if line.startswith("routes: "))
    routes = dict(kv.split("=") for kv in routes[len("routes: "):].split(", "))
    return json.loads(lines[-1]), routes


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_routes_and_checks(name):
    result, routes = run(name)
    assert result["correct"] and result["failed"] == 0, result
    assert routes == WORKLOADS[name].routes


def test_traced_run_reports_every_layer_metric():
    from perfbench.report import PER_LAYER

    result, _ = run("transcript_auto", trace=1)
    assert result["correct"], result
    assert set(result["metrics"]) == set(PER_LAYER)
    assert result["metrics"]["kernel.build_edge_blocks_calls"]["value"] >= 1


def test_bare_checkout_fails_without_result():
    """Only BENCHMARK.json and the benchmark's files, no engine: the run
    exits non-zero and prints no result."""
    import shutil

    bare = ROOT / ".bench_work" / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(ROOT / "perfbench", bare / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    try:
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload",
             "transcript_auto", "--seed", "1", "--seconds", "1",
             "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180,
        )
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert out.returncode != 0
    assert out.stdout.strip() == ""
