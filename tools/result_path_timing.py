"""The cost of turning a numpy result into a Spark DataFrame and reading
it, as a driver-side ``LocalRelation`` against an RDD of Arrow batches.

    python3 tools/result_path_timing.py [--reps 5] [--sizes 200,2000,45000,500000]

Run it from the root of a checkout. In a Spark session with the
benchmark's settings (``local[<CPUs>]``, 1 GB driver, JIT at C1) it
builds an ``(id long, rank double)`` result of each size two ways:

- ``local``: ``spark.createDataFrame`` of a pandas frame, which Spark
  keeps as a ``LocalRelation`` below
  ``spark.sql.execution.arrow.localRelationThreshold`` (48 MB);
- ``rdd``: ``graph.driver_frame``, the engine's one way out of the
  driver, which always gives an RDD of Arrow batches.

and times three reads of it, each including the frame's creation:
``toPandas()``, ``collect()`` and ``join(ids, "id").count()`` against a
persisted Spark-side id table of the same size (the shape of a result
joined back into a plan: a ``LocalRelation`` carries exact size
statistics and is broadcast, the RDD-backed frame is not). Every read
must give the same rows both ways. After one warm-up it prints the
median seconds of ``--reps`` reps per size, read and mode. Everything it
writes stays under ``.bench_work/result_path/``.
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from pathlib import Path
from statistics import median

import numpy as np
import pandas as pd

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from perfbench.run import configure_env, start_spark, stop_spark  # noqa: E402

SCHEMA = "id long, rank double"
READS = ("toPandas", "collect", "join")
MODES = ("local", "rdd")


def frame(spark, mode: str, cols: dict):
    from metagraph_spark import graph

    if mode == "local":
        return spark.createDataFrame(pd.DataFrame(cols), schema=SCHEMA)
    return graph.driver_frame(spark, cols, SCHEMA)


def read(spark, mode: str, cols: dict, how: str, ids):
    df = frame(spark, mode, cols)
    if how == "toPandas":
        return len(df.toPandas())
    if how == "collect":
        return len(df.collect())
    return df.join(ids, "id").count()


def main(argv=None) -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--reps", type=int, default=5)
    p.add_argument("--sizes", default="200,2000,45000,500000")
    args = p.parse_args(argv)

    work = ROOT / ".bench_work" / "result_path"
    configure_env(work)
    spark = start_spark(work, len(os.sched_getaffinity(0)))
    rng = np.random.default_rng(0)
    try:
        print(f"{'rows':>8} {'read':>9} {'local_s':>8} {'rdd_s':>8}")
        for n in (int(s) for s in args.sizes.split(",")):
            cols = {"id": np.arange(n, dtype=np.int64) * 7 - n,
                    "rank": rng.random(n)}
            ids = spark.createDataFrame(
                pd.DataFrame({"id": cols["id"]})).persist()
            assert ids.count() == n
            assert frame(spark, "local", cols).toPandas().equals(
                frame(spark, "rdd", cols).toPandas())
            for how in READS:
                secs = {}
                for mode in MODES:
                    assert read(spark, mode, cols, how, ids) == n  # warm-up
                    ts = []
                    for _ in range(args.reps):
                        t0 = time.perf_counter()
                        assert read(spark, mode, cols, how, ids) == n
                        ts.append(time.perf_counter() - t0)
                    secs[mode] = median(ts)
                print(f"{n:>8} {how:>9} {secs['local']:>8.3f} "
                      f"{secs['rdd']:>8.3f}", flush=True)
            ids.unpersist()
    finally:
        stop_spark(spark)


if __name__ == "__main__":
    main()
