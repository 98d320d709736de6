"""Host-fit defaults of ``session.get_spark``, computed without Spark."""

import os

import pytest

from metagraph_spark import session


@pytest.fixture
def host(monkeypatch, tmp_path):
    """No env overrides, 3 usable CPUs, 4 GB of RAM and no cgroup file;
    returns a function that sets the RAM and the cgroup limit."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 2, 5},
                        raising=False)
    monkeypatch.setattr(session, "_CGROUP_MEMORY_MAX",
                        str(tmp_path / "memory.max"))

    def set_memory(ram_gb, cgroup=None):
        pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": ram_gb * 2**30 // 4096}
        monkeypatch.setattr(os, "sysconf", lambda name: pages[name])
        if cgroup is not None:
            (tmp_path / "memory.max").write_text(f"{cgroup}\n")

    set_memory(4)
    return set_memory


def test_defaults_fit_the_host(host):
    assert session.default_cpus() == 3
    assert session.default_driver_memory() == "2048m"


def test_cgroup_limit_and_heap_cap(host):
    host(4, cgroup=2 * 2**30)
    assert session.default_driver_memory() == "1024m"
    host(4, cgroup="max")
    assert session.default_driver_memory() == "2048m"
    host(128)
    assert session.default_driver_memory() == f"{31 * 1024}m"


def test_cpus_without_affinity(host, monkeypatch):
    monkeypatch.delattr(os, "sched_getaffinity")
    monkeypatch.setattr(os, "cpu_count", lambda: 6)
    assert session.default_cpus() == 6


def test_env_overrides_the_defaults(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "7")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session.default_cpus() == 7
    assert session.default_driver_memory() == "3g"
