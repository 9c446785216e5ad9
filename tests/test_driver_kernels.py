"""The size-gated graph kernels run on the driver (operators/graph.
driver_kernel), and both sides of each gate agree on adversarial graphs.

- No kernel query plans a Python exec node: the kernels' input is fetched
  with one bounded Arrow action and their output is a local relation, so
  executing the query starts no Python worker.
- Reachability counts paths as booleans: a uint8 matmul wrapped at 256
  paths and dropped pairs the distributed loop returns.
- Kernel ≡ loop as a property for all seven operators
  (``conftest.distributed_loop`` forces the loop), with explicit high
  fan-in, chain, clique and empty graphs. These
  run the distributed loops dozens of times, so they stay out of the fast
  ``driver`` gate.
"""

from __future__ import annotations

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from apachebeam_python_spark.operators.dedup import connected_components
from apachebeam_python_spark.operators.graph import (
    closure_census,
    dag_depths,
    hop_distances,
    kcore_census,
    lpa_labels,
    pagerank,
)

from .conftest import distributed_loop

#: 0 → {1..256} → 1000: 512 edges, under the 2048-edge gate, and exactly
#: 256 two-step paths from 0 to 1000
FAN_IN = [(0, i) for i in range(1, 257)] + [(i, 1000) for i in range(1, 257)]
CHAIN = [(i, i + 1) for i in range(8)]
CLIQUE = [(a, b) for a in range(5) for b in range(5) if a != b]
#: pagerank over range(12) with these weighted edges puts the eight
#: nodes without in-edges exactly on a 9-dp rounding half in round 8; a
#: double sum of the dangling mass rounds it by its summation order
TIE = [(0, 2), (4, 9), (5, 9), (1, 4), (1, 6)]

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


def _oriented(edges):
    """The distinct low → high edges: a DAG, and lpa_labels' u < v input."""
    return sorted({(min(a, b), max(a, b)) for a, b in edges})


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
        distributed_loop(hop_distances, e, max_d=9), "src", "node", "d"
    )
    census = _rows(closure_census(e), "node", "n_reachable", "on_cycle")
    assert (0, 257, False) in census
    assert census == _rows(
        distributed_loop(closure_census, e),
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
        distributed_loop(hop_distances, e, max_d=9), "src", "node", "d"
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
        distributed_loop(closure_census, e), *cols
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
        distributed_loop(connected_components, pairs), *cols
    )


@PROPERTY
@given(edges=EDGES)
@example(edges=FAN_IN)
@example(edges=CHAIN)
@example(edges=CLIQUE)
@example(edges=[])
@example(edges=TIE)
def test_pagerank_kernel_matches_loop(spark, edges):
    """Weighted edges over a node list that also holds dangling and
    isolated nodes; ranks must be value-identical, not approximate."""
    weighted = [(a, b, (a + 2 * b) % 5 + 1) for a, b in edges]
    e = spark.createDataFrame(weighted, "src long, dst long, w long")
    ids = sorted(set(range(12)).union(*map(set, edges)))
    nodes = spark.createDataFrame([(i,) for i in ids], "node long")
    assert _rows(pagerank(e, nodes), "node", "r") == _rows(
        distributed_loop(pagerank, e, nodes), "node", "r"
    )


@PROPERTY
@given(edges=EDGES)
@example(edges=FAN_IN)
@example(edges=CHAIN)
@example(edges=CLIQUE)
@example(edges=[])
def test_dag_depths_kernel_matches_loop(spark, edges):
    e = _edges(spark, _oriented(edges))
    assert _rows(dag_depths(e), "node", "d") == _rows(
        distributed_loop(dag_depths, e), "node", "d"
    )


@PROPERTY
@given(edges=EDGES)
@example(edges=FAN_IN)
@example(edges=CHAIN)
@example(edges=CLIQUE)
@example(edges=[])
def test_kcore_census_kernel_matches_loop(spark, edges):
    e = _edges(spark, edges)
    cols = ("node", "core_degree")
    assert _rows(kcore_census(e), *cols) == _rows(
        distributed_loop(kcore_census, e), *cols
    )


@PROPERTY
@given(edges=EDGES)
@example(edges=FAN_IN)
@example(edges=CHAIN)
@example(edges=CLIQUE)
@example(edges=[])
def test_lpa_labels_kernel_matches_loop(spark, edges):
    e = _edges(spark, _oriented(edges), "u long, v long")
    assert _rows(lpa_labels(e), "node", "label") == _rows(
        distributed_loop(lpa_labels, e), "node", "label"
    )



def _pagerank_typed(spark, edges, t):
    """Weighted edges over their endpoints plus an isolated node, 99."""
    weighted = [(a, b, i % 3 + 1) for i, (a, b) in enumerate(edges)]
    isolated = "99" if t == "string" else 99
    nodes = sorted({(v,) for e in edges for v in e} | {(isolated,)})
    return pagerank(
        spark.createDataFrame(weighted, f"src {t}, dst {t}, w long"),
        spark.createDataFrame(nodes, f"node {t}"),
    )


#: per operator: its call over distinct edges with ids of type ``t``,
#: oriented in that type's own order where the input contract asks for it
CALLS = {
    "hop_distances": lambda sp, ed, t: hop_distances(
        _edges(sp, ed, f"src {t}, dst {t}"), max_d=9
    ),
    "closure_census": lambda sp, ed, t: closure_census(
        _edges(sp, ed, f"src {t}, dst {t}")
    ),
    "kcore_census": lambda sp, ed, t: kcore_census(
        _edges(sp, ed, f"src {t}, dst {t}"), k=2
    ),
    "dag_depths": lambda sp, ed, t: dag_depths(
        _edges(sp, _oriented(ed), f"src {t}, dst {t}")
    ),
    "lpa_labels": lambda sp, ed, t: lpa_labels(
        _edges(sp, _oriented(ed), f"u {t}, v {t}")
    ),
    "connected_components": lambda sp, ed, t: connected_components(
        _edges(sp, ed, f"doc_a {t}, doc_b {t}")
    ),
    "pagerank": _pagerank_typed,
}


@settings(max_examples=3, deadline=None)
@given(edges=EDGES)
@example(edges=CHAIN + [(2, 9), (9, 10), (10, 11)])
@pytest.mark.parametrize("t", ["string", "int"])
@pytest.mark.parametrize("op", list(CALLS))
def test_kernel_and_loop_keep_the_id_type(spark, op, t, edges):
    """Both paths return the same rows in the same schema, nullability
    included, with ids in the input's type: int32 stays int, and strings
    ("10" < "9") order as Spark orders them."""
    conv = str if t == "string" else int
    ed = [(conv(a), conv(b)) for a, b in edges]
    kernel = CALLS[op](spark, ed, t)
    loop = distributed_loop(CALLS[op], spark, ed, t)
    assert kernel.schema == loop.schema
    assert t in [f.dataType.simpleString() for f in kernel.schema]
    assert sorted(kernel.collect()) == sorted(loop.collect())
