"""PageRank path equivalence (r11, VERDICT r10 #5).

The driver kernel (operators/graph._pagerank_kernel) is the live path at
every fixture scale (25 nation nodes and ≤ 625 edges, far under
graph._SPARSE_MAX_ROWS), so the distributed loop — the code path that
actually runs at web scale — would otherwise be exercised by no test at
all. This module forces BOTH paths on q_pagerank's own inputs
(``analytics._pagerank_graph``) and asserts value-identical ranks, which
is also the arithmetic contract the oracle replay depends on (per-round
half-away 9-dp rounding swallows sum-order drift in either engine AND
either path).
"""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.driver  # fast-gate tier: guards a driver query

from apachebeam_python_spark.operators.graph import pagerank
from apachebeam_python_spark.queries.analytics import _pagerank_graph

from .conftest import distributed_loop


def test_kernel_and_distributed_ranks_identical(spark, sf_dir):
    edges, nodes = _pagerank_graph(spark, sf_dir)
    kernel = {
        r["node"]: r["r"]
        for r in pagerank(edges, nodes, damping=0.85, iterations=10).collect()
    }
    distributed = {
        r["node"]: r["r"]
        for r in distributed_loop(
            pagerank, edges, nodes, damping=0.85, iterations=10
        ).collect()
    }
    assert set(kernel) == set(distributed)
    # VALUE-identical, not approximately: both paths round each iteration
    # half-away to 9 dp, which is the whole determinism contract
    diffs = {n: (kernel[n], distributed[n]) for n in kernel
             if kernel[n] != distributed[n]}
    assert diffs == {}, f"kernel vs distributed rank divergence: {diffs}"
    # sanity: ranks form a probability-ish vector (teleport keeps them > 0)
    assert all(v > 0 for v in kernel.values())
    assert abs(sum(kernel.values()) - 1.0) < 1e-6


def test_distributed_path_durable_checkpoint(spark, sf_dir, tmp_path, monkeypatch):
    """r11b: the small-graph kernel no longer checkpoints (its lineage is
    consumed once — the eager cut was pure overhead), so the durable-mode
    engagement guard for operators/graph.py moves HERE, onto the
    distributed loop that actually iterates: forced through
    ``conftest.distributed_loop`` under SPARK_GRAFT_DURABLE_CHECKPOINT, it
    must write round dirs and produce the same ranks as the kernel path."""
    root = tmp_path / "ckpt"
    monkeypatch.setenv("SPARK_GRAFT_DURABLE_CHECKPOINT", str(root))
    edges, nodes = _pagerank_graph(spark, sf_dir)
    kernel = {
        r["node"]: r["r"]
        for r in pagerank(edges, nodes, damping=0.85, iterations=10).collect()
    }
    assert not list(root.glob("round_*")), (
        "the kernel path must not checkpoint (r11b)"
    )
    distributed = {
        r["node"]: r["r"]
        for r in distributed_loop(
            pagerank, edges, nodes, damping=0.85, iterations=10
        ).collect()
    }
    assert list(root.glob("round_*")), "durable mode never wrote a round"
    assert kernel == distributed


def test_dangling_mask_matches_distributed_when_dst_outside_nodes(spark):
    """r12 (VERDICT r11 #3 'what's wrong'): a src whose ONLY out-edge
    points outside the node list is NOT dangling in the distributed loop
    (non-dangling derives from ALL edge srcs, before any dst filtering).
    The r11 kernel computed its mask AFTER dropping dst-outside edges and
    would have called node 1 dangling here; both paths must agree."""
    edges = spark.createDataFrame(
        # node 1's only out-edge targets 99, which is not in `nodes`
        [(0, 1, 1.0), (1, 99, 1.0), (2, 0, 1.0)],
        "src long, dst long, w double",
    )
    nodes = spark.createDataFrame([(0,), (1,), (2,)], "node long")
    kernel = {
        r["node"]: r["r"]
        for r in pagerank(edges, nodes, damping=0.85, iterations=5).collect()
    }
    distributed = {
        r["node"]: r["r"]
        for r in distributed_loop(
            pagerank, edges, nodes, damping=0.85, iterations=5
        ).collect()
    }
    assert kernel == distributed
