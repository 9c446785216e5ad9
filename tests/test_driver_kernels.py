"""The size-gated graph kernels run on the driver (operators/graph.
driver_kernel), and both sides of each gate agree on adversarial graphs.

- No kernel query plans a Python exec node: the kernels' input is fetched
  with one bounded Arrow action and their output is a local relation, so
  executing the query starts no Python worker.
- Reachability counts paths as booleans: a uint8 matmul wrapped at 256
  paths and dropped pairs the distributed loop returns.
- Kernel ≡ loop as a property (``small_graph_max_edges=0`` forces the
  loop), with explicit high fan-in, chain, clique and empty graphs. These
  run the distributed loops dozens of times (~70 s), so they stay out of
  the fast ``driver`` gate.
"""

from __future__ import annotations

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from apachebeam_python_spark.operators.dedup import connected_components
from apachebeam_python_spark.operators.graph import (
    closure_census,
    hop_distances,
)

#: 0 → {1..256} → 1000: 512 edges, under the 2048-edge gate, and exactly
#: 256 two-step paths from 0 to 1000
FAN_IN = [(0, i) for i in range(1, 257)] + [(i, 1000) for i in range(1, 257)]
CHAIN = [(i, i + 1) for i in range(8)]
CLIQUE = [(a, b) for a in range(5) for b in range(5) if a != b]

#: distinct src ≠ dst edge lists, the operators' input contract
EDGES = st.lists(
    st.tuples(st.integers(0, 11), st.integers(0, 11)).filter(
        lambda t: t[0] != t[1]
    ),
    max_size=24,
    unique=True,
)

PROPERTY = settings(max_examples=10, deadline=None)


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _edges(spark, edges, names="src long, dst long"):
    return spark.createDataFrame(edges, names)


@pytest.mark.driver  # fast-gate tier: guards driver queries
@pytest.mark.parametrize(
    "name", ["q_dedup_clusters", "q_pagerank", "q_communities_lpa"]
)
def test_kernel_queries_plan_no_python_exec(spark, sf_dir, name):
    from apachebeam_python_spark.plans.inspect import executed_plan
    from apachebeam_python_spark.queries import QUERIES

    plan = executed_plan(QUERIES[name](spark, sf_dir))
    for node in ("FlatMapGroupsInPandas", "MapInPandas", "ArrowEvalPython"):
        assert node not in plan, f"{name} plans {node}:\n{plan}"


@pytest.mark.driver
def test_reachability_survives_256_paths(spark):
    e = _edges(spark, FAN_IN)
    hops = _rows(hop_distances(e, max_d=9), "src", "node", "d")
    assert (0, 1000, 2) in hops
    assert hops == _rows(
        hop_distances(e, max_d=9, small_graph_max_edges=0), "src", "node", "d"
    )
    census = _rows(closure_census(e), "node", "n_reachable", "on_cycle")
    assert (0, 257, False) in census
    assert census == _rows(
        closure_census(e, small_graph_max_edges=0),
        "node",
        "n_reachable",
        "on_cycle",
    )


@PROPERTY
@given(edges=EDGES)
@example(edges=FAN_IN)
@example(edges=CHAIN)
@example(edges=CLIQUE)
@example(edges=[])
def test_hop_distances_kernel_matches_loop(spark, edges):
    e = _edges(spark, edges)
    assert _rows(hop_distances(e, max_d=9), "src", "node", "d") == _rows(
        hop_distances(e, max_d=9, small_graph_max_edges=0), "src", "node", "d"
    )


@PROPERTY
@given(edges=EDGES)
@example(edges=FAN_IN)
@example(edges=CHAIN)
@example(edges=CLIQUE)
@example(edges=[])
def test_closure_census_kernel_matches_loop(spark, edges):
    e = _edges(spark, edges)
    cols = ("node", "n_reachable", "on_cycle")
    assert _rows(closure_census(e), *cols) == _rows(
        closure_census(e, small_graph_max_edges=0), *cols
    )


@PROPERTY
@given(edges=EDGES)
@example(edges=FAN_IN)
@example(edges=CHAIN)
@example(edges=CLIQUE)
@example(edges=[])
def test_connected_components_kernel_matches_loop(spark, edges):
    pairs = _edges(spark, edges, "doc_a long, doc_b long")
    cols = ("doc_id", "cluster_id")
    assert _rows(connected_components(pairs), *cols) == _rows(
        connected_components(pairs, small_graph_max_edges=0), *cols
    )
