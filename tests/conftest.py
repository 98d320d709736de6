import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from metagraph_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="metagraph_spark_tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield s
    s.stop()


def df_from_edges(spark, edges, weighted=True):
    """Build an edge DataFrame from a list of (src, dst[, weight]) tuples."""
    if weighted:
        rows = [(int(s), int(d), float(w)) for s, d, w in edges]
        return spark.createDataFrame(rows, "src long, dst long, weight double")
    rows = [(int(s), int(d)) for s, d in edges]
    return spark.createDataFrame(rows, "src long, dst long")


def spy_calls(monkeypatch, module, name):
    """Wrap ``module.<name>`` for the test; returns the list of its
    non-None results, so a test can assert which loop actually ran."""
    orig = getattr(module, name)
    results = []

    def wrapper(*a, **kw):
        out = orig(*a, **kw)
        if out is not None:
            results.append(out)
        return out

    monkeypatch.setattr(module, name, wrapper)
    return results
