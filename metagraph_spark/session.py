"""SparkSession factory tuned for the link-graph workload.

Local-mode defaults fit the host: ``local[<CPUs this process may use>]``
and a driver heap of half the RAM it may use (at most 31 GB), in one
JVM; on a real cluster the same settings apply except master/memory come
from spark-submit.
Key choices:

- AQE on (runtime skew-join splitting and partition coalescing).
- Arrow on (every Python-side kernel is a vectorized pandas/Arrow UDF).
- ``spark.sql.shuffle.partitions`` sized to cores locally; at cluster scale
  callers pass ``shuffle_partitions`` ~ 2-3x total executor cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
    # Iterative algorithms re-plan per superstep; keep broadcast joins cheap.
    "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
    # Superstep joins are co-partitioned equi-joins on pre-hashed keys; a
    # shuffled-hash join skips the per-superstep SMJ sorts (~1.8x on the
    # PageRank gather, measured) — per-partition build sides stay bounded
    # because partition counts scale with the data.
    "spark.sql.join.preferSortMergeJoin": "false",
}


# cgroup v2 memory limit of this process's container ("max" when unlimited)
_CGROUP_MEMORY_MAX = "/sys/fs/cgroup/memory.max"
# default heaps stay below 32 GB, where the JVM loses compressed pointers
_MAX_DEFAULT_HEAP = 31 * 2**30


def default_cpus() -> int:
    """``$SPARK_GRAFT_CPUS``, else the CPUs this process may run on."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def _usable_memory() -> int:
    """Bytes of RAM this process may use: the physical RAM, or the
    container's cgroup limit when that is lower."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    try:
        with open(_CGROUP_MEMORY_MAX) as f:
            limit = f.read().strip()
    except OSError:
        return ram
    return min(ram, int(limit)) if limit.isdigit() else ram


def default_driver_memory() -> str:
    """``$SPARK_GRAFT_DRIVER_MEM``, else half the RAM this process may use
    (in MB), at most 31 GB."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    return f"{min(_usable_memory() // 2, _MAX_DEFAULT_HEAP) // 2**20}m"


def get_spark(
    app_name: str = "metagraph_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[N]``, N = :func:`default_cpus`; a local
    master's driver memory defaults to :func:`default_driver_memory`.
    ``shuffle_partitions`` defaults to the local core count — NOT Spark's 200,
    which is wrong for a single-host sandbox; on a cluster pass an explicit
    value sized to total cores.
    """
    cpus = default_cpus()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
    )
    if master.startswith("local"):
        builder = builder.config("spark.driver.memory", default_driver_memory())
    for k, v in _DEFAULTS.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    """Stop the active session if any (used between scaling-bench runs)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
