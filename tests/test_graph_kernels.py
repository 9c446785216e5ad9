"""Both-paths equivalence for the r12 single-task graph kernels
(operators/graph.hop_distances / closure_census / kcore_census /
lpa_labels — the q_pagerank/q_dag_layers pattern applied to the remaining
bounded-round loops, VERDICT r11 #1).

The kernels run at every fixture scale (nation/brand graphs are far under
the edge gate), so the distributed loops — the code paths that run at web
scale — would otherwise be exercised by no test. Each test forces BOTH
paths on the same edges (``conftest.distributed_loop`` forces the loop)
and asserts value-identical results; every kernel is integer set
algebra / counting over dictionary-encoded ids, so equality is exact,
not approximate. Synthetic graphs pin structure (cycles, peel cascades,
label ties, an empty graph) independent of the fixture.
"""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.driver  # fast-gate tier: guards registry queries

from pyspark.sql import functions as F

from apachebeam_python_spark.operators.graph import (
    closure_census,
    hop_distances,
    kcore_census,
    lpa_labels,
)
from apachebeam_python_spark.queries.analytics import _trade_edges

from .conftest import distributed_loop


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


# --------------------------------------------------------------------- hop


def test_hop_distances_paths_identical_on_fixture(spark, sf_dir):
    e = _trade_edges(spark, sf_dir, 120)
    kernel = _rows(hop_distances(e, max_d=9), "src", "node", "d")
    dist = _rows(
        distributed_loop(hop_distances, e, max_d=9), "src", "node", "d"
    )
    assert kernel == dist
    if kernel:
        assert min(d for _, _, d in kernel) == 1
        assert max(d for _, _, d in kernel) <= 9


def test_hop_distances_chain_and_cap(spark):
    # path 0-1-2-3-4 (undirected via symmetrization): d(0,4)=4; max_d=3
    # truncates it; source never visits itself
    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    got = _rows(hop_distances(e, max_d=3), "src", "node", "d")
    exp = []
    import itertools

    for a, b in itertools.permutations(range(5), 2):
        d = abs(a - b)
        if 1 <= d <= 3:
            exp.append((a, b, d))
    assert got == sorted(exp)
    assert got == _rows(
        distributed_loop(hop_distances, e, max_d=3), "src", "node", "d"
    )


# ----------------------------------------------------------------- closure


def test_closure_census_paths_identical_on_fixture(spark, sf_dir):
    e = _trade_edges(spark, sf_dir, 100)
    kernel = _rows(closure_census(e), "node", "n_reachable", "on_cycle")
    dist = _rows(
        distributed_loop(closure_census, e),
        "node",
        "n_reachable",
        "on_cycle",
    )
    assert kernel == dist


def test_closure_census_cycle_and_tail(spark):
    # 0→1→2→0 cycle with a tail 3→0 and a sink 2→4: 3 reaches everything
    # but sits on no cycle; 4 reaches nothing
    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (3, 0), (2, 4)], "src long, dst long"
    )
    got = {
        r["node"]: (r["n_reachable"], r["on_cycle"])
        for r in closure_census(e).collect()
    }
    assert got == {
        0: (4, True),   # reaches {0,1,2,4}, self-reachable via the cycle
        1: (4, True),
        2: (4, True),
        3: (4, False),  # reaches {0,1,2,4}, never itself
        4: (0, False),
    }
    dist = {
        r["node"]: (r["n_reachable"], r["on_cycle"])
        for r in distributed_loop(closure_census, e).collect()
    }
    assert dist == got


# ------------------------------------------------------------------- kcore


def test_kcore_census_paths_identical_on_fixture(spark, sf_dir):
    e = _trade_edges(spark, sf_dir, 120)
    kernel = _rows(kcore_census(e, k=3, rounds=3), "node", "core_degree")
    dist = _rows(
        distributed_loop(kcore_census, e, k=3, rounds=3),
        "node",
        "core_degree",
    )
    assert kernel == dist


def test_kcore_census_peel_cascade(spark):
    # K4 on {0,1,2,3} plus a pendant chain 3-4, 4-5: one peel removes 5
    # and 4 (degree < 2... with k=2), second peel re-checks; K4 survives
    # with degree 3 each + node 3 keeps 3 after losing 4
    e = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3), (3, 4), (4, 5)],
        "src long, dst long",
    )
    got = _rows(kcore_census(e, k=3, rounds=3), "node", "core_degree")
    assert got == [(0, 3), (1, 3), (2, 3), (3, 3)]
    assert got == _rows(
        distributed_loop(kcore_census, e, k=3, rounds=3),
        "node",
        "core_degree",
    )


# --------------------------------------------------------------------- lpa


def test_lpa_labels_paths_identical_on_fixture(spark, sf_dir):
    from apachebeam_python_spark.queries.analytics import _brand_edges

    e = _brand_edges(spark, sf_dir)
    kernel = _rows(lpa_labels(e, rounds=3), "node", "label")
    dist = _rows(
        distributed_loop(lpa_labels, e, rounds=3), "node", "label"
    )
    assert kernel == dist


def test_lpa_labels_string_ties_break_to_smallest(spark):
    # triangle a-b-c plus pendant d-a. Round 1: every neighbor multiset is
    # distinct labels with count 1 ⇒ ties everywhere, each node adopts its
    # smallest neighbor — exactness of the smallest-label tie-break is the
    # point (Spark orders UTF-8 bytes, the kernel np.unique code points)
    e = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("a", "d")], "u string, v string"
    )
    kernel = _rows(lpa_labels(e, rounds=3), "node", "label")
    dist = _rows(distributed_loop(lpa_labels, e, rounds=3), "node", "label")
    assert kernel == dist
    # round 1: a→b (neighbors b,c,d tie ⇒ smallest b); b→a; c→a; d→a
    # round 2: a's neighbors labeled a,a,a ⇒ a; b's: b,a ties ⇒ a; etc.
    assert dict(kernel)["d"] in {"a", "b"}


def test_kernels_empty_graph(spark):
    e = spark.createDataFrame([], "src long, dst long")
    assert hop_distances(e, max_d=9).count() == 0
    assert closure_census(e).count() == 0
    assert kcore_census(e).count() == 0
    assert lpa_labels(e, src="src", dst="dst").count() == 0


# ------------------------------------------------------- connected components


def test_connected_components_paths_identical(spark, sf_dir):
    from apachebeam_python_spark.operators.dedup import (
        connected_components,
        minhash_lsh_pairs,
        release_signature_caches,
    )
    from apachebeam_python_spark.session import table

    pairs = minhash_lsh_pairs(
        table(spark, sf_dir, "documents"), "text", "doc_id",
        shingle_n=2, num_hashes=64, bands=32, threshold=0.5,
    )
    kernel = _rows(connected_components(pairs), "doc_id", "cluster_id")
    release_signature_caches()
    dist = _rows(
        distributed_loop(connected_components, pairs),
        "doc_id",
        "cluster_id",
    )
    release_signature_caches()
    assert kernel == dist


def test_connected_components_kernel_min_root_chain(spark):
    from apachebeam_python_spark.operators.dedup import connected_components

    # a chain 5-4, 4-3, 3-9 plus an isolated pair 7-8: min-member labeling
    pairs = spark.createDataFrame(
        [(4, 5), (3, 4), (3, 9), (7, 8)], "doc_a long, doc_b long"
    )
    got = dict(_rows(connected_components(pairs), "doc_id", "cluster_id"))
    assert got == {3: 3, 4: 3, 5: 3, 9: 3, 7: 7, 8: 7}
    dist = dict(
        _rows(
            distributed_loop(connected_components, pairs),
            "doc_id",
            "cluster_id",
        )
    )
    assert dist == got
