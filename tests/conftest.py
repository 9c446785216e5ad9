"""Shared fixtures: one SparkSession per test run, one DuckDB con with views."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from apachebeam_python_spark.session import TABLES, get_spark  # noqa: E402

# sf0.01 = the scale the driver checks at (VERDICT r1 #4: scale-dependent
# parity breaks passed locally at sf0.001 and surfaced only at the driver).
# Set SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.001 for a faster dev loop.
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE", "8")  # small sf → small shuffle
    s = get_spark("tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def ddb():
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{SF_DIR}/{name}.parquet')"
        )
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(autouse=True)
def _release_operator_caches():
    """Operator-level caches (minhash signatures; the setsim prefix table
    since r10b) enroll in the release_signature_caches registry. Queries
    are lazy builders, so a test that merely materializes one never gets a
    natural release point — drop whatever the test left behind so cache
    state can't leak across tests (test_cache_lifecycle asserts exact
    registry counts and broke when the setsim tests ran first)."""
    yield
    from apachebeam_python_spark.operators.dedup import release_signature_caches

    release_signature_caches()



def distributed_loop(op, *args, **kwargs):
    """``op(*args, **kwargs)`` on its distributed loop: a size-gated graph
    operator (operators/graph.py, ``dedup.connected_components``) whose
    ``graph.driver_kernel`` declines, as it does past its gate. The gate
    runs when the operator is called, so the returned DataFrame can be
    collected anywhere. Built on ``MonkeyPatch.context()`` so hypothesis
    test bodies can use it."""
    from apachebeam_python_spark.operators import graph

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(graph, "driver_kernel", lambda *_: None)
        return op(*args, **kwargs)
