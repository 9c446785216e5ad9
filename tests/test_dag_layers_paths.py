"""DAG-layering path equivalence (r11, the q_pagerank kernel pattern).

operators/graph.dag_depths runs its driver kernel at every fixture scale
(the nation DAG has ≤ 25 nodes, far under graph._SPARSE_MAX_ROWS), so the
distributed relaxation loop — the code path that runs at web scale —
would otherwise be exercised by no test. This module forces BOTH paths on
q_dag_layers' own edges and asserts value-identical depths; the
relaxation is integer and order-free, so equality is exact, not
approximate.
"""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.driver  # fast-gate tier: guards a registry query

from pyspark.sql import functions as F

from apachebeam_python_spark.operators.graph import dag_depths
from apachebeam_python_spark.queries.analytics import _trade_edges

from .conftest import distributed_loop


def _edges(spark, sf_dir):
    """q_dag_layers' own input: the ≥100 trade edges, oriented src < dst."""
    return _trade_edges(spark, sf_dir, 100).filter(F.col("src") < F.col("dst"))


def test_kernel_and_distributed_depths_identical(spark, sf_dir):
    e = _edges(spark, sf_dir)
    kernel = {r["node"]: r["d"] for r in dag_depths(e).collect()}
    distributed = {
        r["node"]: r["d"]
        for r in distributed_loop(dag_depths, e).collect()
    }
    assert kernel == distributed
    # at sf0.001 the HAVING edge cut leaves an empty DAG (both paths must
    # agree on {}); from sf0.01 up the graph is real — sanity-check it
    if kernel:
        # sources exist at depth 0 and depth is bounded by |V|-1
        assert min(kernel.values()) == 0
        assert max(kernel.values()) <= len(kernel) - 1
    # the synthetic chain/diamond test below pins nonempty structure at
    # every SF, so this test is never vacuous overall


def test_kernel_handles_chain_and_diamond(spark):
    # 0→1→2→3 chain plus a diamond 0→4, 4→3: longest path to 3 is 3 hops
    rows = [(0, 1), (1, 2), (2, 3), (0, 4), (4, 3)]
    e = spark.createDataFrame(rows, "src long, dst long")
    got = {r["node"]: r["d"] for r in dag_depths(e).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3, 4: 1}
    got_dist = {
        r["node"]: r["d"]
        for r in distributed_loop(dag_depths, e).collect()
    }
    assert got_dist == got
