"""Driver-contract window invariants (VERDICT r1 #1).

Round 1 proved the driver evaluates exactly the first 50 registered queries
in ``queries()`` order; these tests pin the contract shape so a future query
addition can't silently push a family past the check window again.
"""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.driver  # fast-gate tier (round 7, VERDICT r6 #9)

import __spark_entry__ as entry
from apachebeam_python_spark import queries as q

MAX_DRIVER_ENTRIES = 50

#: Round-6 rotation (VERDICT r5 #4): six slots moved to round-4/5 families
#: that had never earned a driver-green row (q_lake_snapshot, q_chi_square,
#: q_spatial_grid_join, q_png_pipeline, q_betweenness, q_scd2_dims). The
#: rotated-off queries stay registered + oracle-backed in the local sweep
#: and their §2 families keep at least one driver slot each.
ROTATED_OFF_R6 = {
    "q_groupbykey_batches",
    "q_join_cross",
    "q_cogroup_full_outer",
    "q_latest_per_key",
    "q_fn_map",
    "q_partition",
}

#: Round-7 rotation (VERDICT r6 #3): six slots moved to the round-6 families
#: that had never earned a driver-green row — finance (q_ohlc_bars), recsys
#: (q_item_cf), physical layout (q_bucketed_join), lake CDC (q_lake_merge_cdc),
#: binned range join (q_range_join_binned), graph (q_katz). Same rules: the
#: rotated-off stay oracle-backed in the local sweep; families keep ≥1 slot.
ROTATED_OFF_R7 = {
    "q_doc_features",
    "q_order_limit",
    "q_join_semi_anti",
    "q_join_range",
    "q_pardo_tagged",
    "q_inference_stub",
}

ROTATED_IN_R7 = [
    "q_ohlc_bars",
    "q_item_cf",
    "q_bucketed_join",
    "q_lake_merge_cdc",
    "q_range_join_binned",
    "q_katz",
]

#: Round-8 rotation (VERDICT r7 #1): six slots moved to the round-7 families
#: that had never earned a driver-green row — physical layout (q_zorder_skip),
#: skew-safe aggregation (q_salted_distinct), incremental view maintenance
#: (q_ivm_join), per-key change-point detection (q_changepoint_per_key),
#: positional retrieval (q_phrase_search), hashed feature vectorization
#: (q_hashed_tf_vectors). Same rules as r6/r7: rotated-off queries stay
#: oracle-backed in the local sweep; each §2 family keeps ≥1 driver slot.
ROTATED_OFF_R8 = {
    "q_topk_per_key",
    "q_join_broadcast",
    "q_fn_array",
    "q_embedding_pool",
    "q_custom_window",
    "q_cube",
    # r8 continuation: slot given to q_run_inference (the §2.10 "ML
    # inference" row's first driver proof — a REAL trained artifact through
    # the RunInference lifecycle). The UDF family keeps three driver slots
    # (scalar pandas UDF, UDAF, grouped map); the UDTF stays hash-green in
    # the local sweep.
    "q_python_udtf",
}

ROTATED_IN_R8 = [
    "q_zorder_skip",
    "q_salted_distinct",
    "q_ivm_join",
    "q_changepoint_per_key",
    "q_phrase_search",
    "q_hashed_tf_vectors",
    "q_run_inference",
]

#: Round-9 rotation (VERDICT r8 #1, wave 4): seven tier-2 slots whose families
#: had each been driver-graded green ≥3 times move to families the external
#: artifact has NEVER graded — recursive CTE, VARIANT semi-structured, lake
#: change feed, GIF/LZW codec, TPC-H Q8 deep join, Markov removal-effect
#: attribution, mergeable quantile-sketch rollup. Tier 1's one-per-family
#: floor is untouched; rotated-off queries stay oracle-backed locally.
ROTATED_OFF_R9 = {
    "q_doc_stats",
    "q_json_extract",
    "q_dedup_ngram_jaccard",
    "q_chi_square",
    "q_grouped_map_zscore",
    "q_agg_stats",
    "q_katz",
}

ROTATED_IN_R9 = [
    "q_recursive_cte",
    "q_variant_json",
    "q_lake_changes",
    "q_gif_pipeline",
    "q_market_share",
    "q_markov_attribution",
    "q_quantile_histogram_rollup",
]

#: Round-10 rotation (VERDICT r9 #2, wave 5): seven tier-2 slots whose
#: families had each been driver-graded green ≥3 rounds move to families the
#: external artifact has NEVER graded — third codec (WebP/VP8L), training
#: export round trip (WebDataset), second graph algorithm (directed SCC),
#: classifier evaluation (reliability bins), Spark 4 native XML, lake write
#: path (MERGE INTO), streaming event-time interval join. Tier 1 untouched;
#: rotated-off queries stay oracle-backed in the local sweep.
ROTATED_OFF_R10 = {
    "q_lake_snapshot",
    "q_lake_merge_cdc",
    "q_png_pipeline",
    "q_betweenness",
    "q_spatial_grid_join",
    "q_udaf_weighted_avg",
    "q_star_join",
}

ROTATED_IN_R10 = [
    "q_webp_pipeline",
    "q_export_webdataset",
    "q_scc",
    "q_calibration",
    "q_xml_extract",
    "q_lake_merge",
    "q_stream_interval_join",
]

#: Round-11 rotation (VERDICT r10 #1, wave 6 — cadence raised to 10 slots):
#: ten tier-2 slots whose families have each been driver-graded green ≥3
#: rounds move to families the external artifact has NEVER graded — FLAC
#: codec, TFRecord export (per-shard digests), LPA communities, PageRank,
#: bounded BFS (top-3-per-src trade graph), k-anonymity, hybrid search/RRF,
#: BPE vocabulary learning, KMV set-op sketch, Holt forecast. Tier 1
#: untouched; rotated-off queries stay oracle-backed in the local sweep.
ROTATED_OFF_R11 = {
    "q_stream_source",
    "q_dedup_clusters",
    "q_corpus_curation",
    "q_bm25",
    "q_funnel",
    "q_scd2_dims",
    "q_range_join_binned",
    "q_bucketed_join",
    "q_salted_distinct",
    "q_hashed_tf_vectors",
}

ROTATED_IN_R11 = [
    "q_flac_pipeline",
    "q_export_tfrecord",
    "q_communities_lpa",
    "q_pagerank",
    "q_bfs_reachability",
    "q_k_anonymity",
    "q_hybrid_search",
    "q_bpe_learn",
    "q_kmv_sketch",
    "q_forecast_holt",
]


def test_driver_window_size():
    assert len(entry.queries()) <= MAX_DRIVER_ENTRIES


def test_driver_order_matches_spec():
    assert list(entry.queries()) == q.DRIVER_ORDER


def test_oracles_subset_and_aligned():
    qs, os_ = entry.queries(), entry.oracle_sql()
    assert set(os_) <= set(qs)
    # every driver oracle is also in the full local sweep with identical SQL
    for name, sql in os_.items():
        assert q.ORACLES[name] == sql


def test_rows_only_entries_last():
    """Oracle-backed entries must precede rows-only ones: rows-only queries
    can never earn a hash-green row, so under a time-based cap they must not
    displace one that can."""
    order = list(entry.queries())
    os_ = entry.oracle_sql()
    seen_rows_only = False
    for name in order:
        if name not in os_:
            seen_rows_only = True
        else:
            assert not seen_rows_only, f"oracle-backed {name} after a rows-only entry"


def test_driver_window_fully_oracle_backed():
    """Since round 3 (VERDICT r2 #1) every driver entry is oracle-backed, so
    each of the 50 slots can earn a rows+schema+hash green row. Approximate /
    engine-hash queries live off-surface with pytest property proofs."""
    qs, os_ = entry.queries(), entry.oracle_sql()
    missing = [n for n in qs if n not in os_]
    assert not missing, f"rows-only queries on the driver surface: {missing}"


def test_r2_green_set_never_demoted():
    """Greenness pin (VERDICT r2 #8): every query that earned a hash-green
    driver row in round 2 must stay on the driver surface with its oracle
    intact. A registry edit that drops or de-oracles one fails here, locally,
    before the driver ever sees it. (The VALUES are re-proven each run by the
    full parity sweep in test_oracle_parity.py — driver queries are a subset —
    so this pin only needs to guard membership.)"""
    import json
    import pathlib

    record = pathlib.Path(__file__).resolve().parent.parent / "CORRECTNESS_r02.json"
    green = [
        name
        for name, row in json.loads(record.read_text()).items()
        if row.get("hash_match") is True
    ]
    assert len(green) == 47, f"expected 47 green rows in the r2 record, got {len(green)}"
    # Deliberate, documented exceptions only. q_dedup_embedding: all-pairs
    # O(n²) anchor demoted per VERDICT r2 #4; stays oracle-checked in the
    # local sweep, its slot went to q_embedding_pool.
    intentionally_demoted = (
        {"q_dedup_embedding"}
        | ROTATED_OFF_R6 | ROTATED_OFF_R7 | ROTATED_OFF_R8 | ROTATED_OFF_R9
        | ROTATED_OFF_R10 | ROTATED_OFF_R11
    )
    qs, os_ = entry.queries(), entry.oracle_sql()
    demoted = [
        n for n in green
        if n not in intentionally_demoted and (n not in qs or n not in os_)
    ]
    assert not demoted, f"r2 hash-green queries demoted from the driver surface: {demoted}"
    # the exception must keep its oracle in the local sweep (never deleted)
    assert q.ORACLES.get("q_dedup_embedding"), "exactness anchor lost its oracle"
    # q_embedding_pool (the r3 replacement) was itself rotated off in r8;
    # it must stay oracle-backed in the local sweep like every rotated-off.
    assert q.ORACLES.get("q_embedding_pool"), "r3 replacement lost its oracle"


def test_r3_green_set_never_demoted():
    """Greenness pin, round-3 edition (VERDICT r3 #3): all FIFTY queries that
    earned rows+schema+hash green driver rows in round 3 must stay on the
    driver surface with their oracles intact — no future edit may demote
    q_bm25/q_funnel/q_data_quality (the r2→r3 swaps) or any other green slot,
    and since the window is capped at 50 this also freezes the membership of
    the driver surface itself. Values are re-proven by test_oracle_parity.py;
    this pin guards membership only."""
    import json
    import pathlib

    record = pathlib.Path(__file__).resolve().parent.parent / "CORRECTNESS_r03.json"
    green = [
        name
        for name, row in json.loads(record.read_text()).items()
        if row.get("hash_match") is True
    ]
    assert len(green) == 50, f"expected 50 green rows in the r3 record, got {len(green)}"
    qs, os_ = entry.queries(), entry.oracle_sql()
    rotated_off = (ROTATED_OFF_R6 | ROTATED_OFF_R7 | ROTATED_OFF_R8
                   | ROTATED_OFF_R9 | ROTATED_OFF_R10 | ROTATED_OFF_R11)
    demoted = [
        n for n in green if n not in rotated_off and (n not in qs or n not in os_)
    ]
    assert not demoted, f"r3 hash-green queries demoted from the driver surface: {demoted}"
    # rotated-off queries must stay registered AND oracle-backed locally
    for n in rotated_off:
        assert n in q.QUERIES and n in q.ORACLES, f"rotated-off {n} lost its oracle"
        assert n not in qs, f"{n} is rotated off but still on the driver surface"
    # and each rotated-in replacement must be oracle-backed on the surface —
    # unless a LATER rotation legitimately moved it off again (q_chi_square,
    # q_katz: in r6/r7, off r9 after ≥3 green driver rounds)
    for n in ["q_lake_snapshot", "q_chi_square", "q_spatial_grid_join",
              "q_png_pipeline", "q_betweenness", "q_scd2_dims"] \
             + ROTATED_IN_R7 + ROTATED_IN_R8 + ROTATED_IN_R9 \
             + ROTATED_IN_R10 + ROTATED_IN_R11:
        if n in rotated_off:
            continue
        assert n in qs and n in os_, f"rotated-in {n} missing or rows-only"


def test_every_family_in_tier1():
    """The first 16 entries cover one query per SURVEY §2 family, so even an
    aggressively time-capped driver run still sees full-family coverage."""
    tier1 = list(entry.queries())[:16]
    for name in [
        "q_pricing_summary",   # flagship
        "q_elementwise",       # §2.2
        "q_agg_combine",       # §2.3
        "q_join_equi",         # §2.4
        "q_win_functions",     # §2.5
        "q_setops",            # §2.6
        "q_fn_scalar",         # §2.7
        "q_windows_fixed_sliding",  # §2.8 batch
        "q_stateful_dedup",    # §2.9
        "q_pandas_udf_scalar", # §2.10
        "q_wordcount",         # §2.11 text
        "q_dedup_exact",       # §2.11 dedup
        "q_cosine_topk",       # §2.11 similarity
        "q_multimodal_meta",   # §2.11 multimodal
        "q_scan_formats",      # §2.1
        "q_stream_tumbling",   # §2.8 streaming
    ]:
        assert name in tier1, f"{name} missing from tier 1"


def test_nonempty_window_invariant_wired(spark, ddb):
    """Nonempty-window invariant pin (r10, VERDICT r9 #1): every driver-surface
    query must return ≥1 row at sf0.01, else its external grade is vacuous —
    rows/schema/hash can all "match" on the empty set (q_recursive_cte, r9).
    The check itself lives in tests/test_oracle_parity.py::test_oracle_parity
    (which already executes each driver query at sf0.01 in the fast gate, so
    the invariant costs zero extra runs); this test pins that the enforcement
    stays wired. r11 (ADVICE r10 #3): pin BEHAVIOR, not source text —
    assert_parity must RETURN the measured row count as an int, proven by
    calling it on a trivial 3-row query; one light source check keeps the
    driver-surface gating condition visible."""
    import inspect

    from . import test_oracle_parity as top
    from .parity import assert_parity as ap

    assert top.DRIVER_SF001 == "/root/testdata/sf0.01"
    # behavior pin: the helper returns the row count the invariant consumes
    df = spark.range(3).selectExpr("CAST(id AS BIGINT) AS v")
    n = ap(df, ddb, "SELECT CAST(range AS BIGINT) AS v FROM range(3)",
           name="nonempty_invariant_pin")
    assert isinstance(n, int) and n == 3
    # light source check: the parity test still gates the nonempty assertion
    # on the driver surface at the driver's scale factor
    src = inspect.getsource(top.test_oracle_parity)
    assert "DRIVER_SF001" in src and ">= 1" in src, (
        "the driver-window nonempty assertion was removed from "
        "test_oracle_parity — vacuous driver slots can ship again"
    )


def test_demoted_queries_stay_locally_tested():
    """Demoted queries that the benchmarks still time remain registered
    (pytest sweep) but off the driver surface."""
    driver = set(entry.queries())
    for name in ["q_join_inner", "q_tumbling_window", "q_dedup_minhash"]:
        assert name in q.QUERIES and name not in driver


def test_readme_registry_counts_match_registry():
    """Doc-pin (VERDICT r3 #4): the README's registry counts drifted twice in
    round 3 — grep the two count sentences against the live registry so a
    new @register without a README bump fails here, not in the judge's audit."""
    import pathlib
    import re

    readme = (pathlib.Path(__file__).resolve().parent.parent / "README.md").read_text()
    claims = [
        (int(m.group(1)), int(m.group(2)))
        for m in re.finditer(
            r"(\d+) (?:named|registered) queries[,)]? \(?(\d+) (?:with|oracle-checked)",
            readme,
        )
    ]
    assert len(claims) >= 2, "README count sentences not found — regex or doc drift"
    for total, oracled in claims:
        assert total == len(q.QUERIES), (
            f"README claims {total} queries, registry has {len(q.QUERIES)}"
        )
        assert oracled == len(q.ORACLES), (
            f"README claims {oracled} oracle-backed, registry has {len(q.ORACLES)}"
        )


def test_coverage_tables_name_registered_queries():
    """Doc-pin: every query SURVEY §2's operator tables and README's
    "Capability coverage" section name as proof is registered. A deleted
    query is named there by its subsumer (tests/test_plans.py::SUBSUMED),
    so a deletion that leaves a table pointing at nothing fails here; the
    package's docstrings, comments and notes and the examples must not
    name a deleted query either."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parent.parent

    def section(doc, head):
        text = (root / doc).read_text()
        start = text.index(head)
        return text[start : text.index("\n## ", start + len(head))]

    #: not query names: README's DSIR row writes the formula ln(p_target/q_raw)
    formula_tokens = {"q_raw"}
    named = set(
        re.findall(
            r"\bq_[a-z0-9_]+",
            section("SURVEY.md", "## 2. Operator inventory")
            + section("README.md", "## Capability coverage"),
        )
    )
    assert len(named) > 100, "coverage tables not found — heading drift"
    assert sorted(named - formula_tokens - set(q.QUERIES)) == []

    from .test_plans import SUBSUMED

    texts = [
        p
        for d in ("apachebeam_python_spark", "examples")
        for p in sorted((root / d).rglob("*"))
        if p.suffix in (".py", ".md")
    ]
    assert len(texts) > 50, "package sources not found"
    stale = sorted(
        f"{p.relative_to(root)}: {n}"
        for p in texts
        for n in set(re.findall(r"\bq_[a-z0-9_]+\b", p.read_text())) & set(SUBSUMED)
    )
    assert stale == [], stale
