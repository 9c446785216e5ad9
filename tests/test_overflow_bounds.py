"""Integer-overflow bounds pins for the stats family (round 6, VERDICT r5 #7).

Empirical evidence: a one-off oracle-parity sweep of all 40 stats-family
queries at sf0.1 (10× the driver's check scale) passed 40/40 with zero
hash mismatches (recorded in README's round-6 notes). These tests make the
WIDENING DISCIPLINE itself regression-proof: each named risky query must
keep its 128-bit cast (``decimal(38,0)`` / oracle ``HUGEINT``) on the
dominant product, and the live fixture's dominant magnitude must retain
≥64× headroom inside the type the implementation uses — so a fixture
growth or a careless "simplification" that drops a cast fails here, not
in a larger-scale run.

Documented bounds (the "would it survive 100 TB" analysis per query):

- q_cliffs_delta / q_gk_gamma: pair censuses ≤ n₁·n₂ ≤ N² — int64 dies at
  N ≈ 3×10⁹ per side; both accumulate in 128-bit and only the driver-facing
  OUTPUT column narrows to BIGINT (valid until N² > 9.2×10¹⁸ actual pairs).
- q_friedman: tie correction Σ t³ ≤ N³ — int64 dies at N ≈ 2×10⁶;
  accumulated in decimal(38,0) (good to N ≈ 4×10¹²).
- q_mann_kendall: tie term Σ t(t−1)(2t+5) ≤ 2N³ + lower orders — same N³
  profile, widened to 128-bit.
- q_betweenness: per-pair term σ_sv·σ_st·720720 — σ (shortest-path counts)
  can reach K^L on a K-ary L-hop mesh; the census multiplies two σ's and
  the 720720 LCM in HUGEINT, so the bound is σ² · 7.2×10⁵ < 10³⁸,
  i.e. σ < 4×10¹⁶ — beyond any graph whose σ fits the BIGINT input type.
"""

from __future__ import annotations

import inspect

import pytest

from apachebeam_python_spark import queries as q

INT64_MAX = 2**63 - 1
DEC38_MAX = 10**38 - 1

#: query → (module attr holding the function, widened-cast markers that must
#: appear in the Spark source AND the DuckDB oracle)
RISKY = {
    "q_cliffs_delta": ("apachebeam_python_spark.queries.stats_tests", "q_cliffs_delta"),
    "q_gk_gamma": ("apachebeam_python_spark.queries.stats_tests", "q_gk_gamma"),
    "q_friedman": ("apachebeam_python_spark.queries.stats_tests", "q_friedman"),
    "q_mann_kendall": ("apachebeam_python_spark.queries.stats_tests", "q_mann_kendall"),
    "q_betweenness": ("apachebeam_python_spark.queries.analytics", "q_betweenness"),
    # tp_g·cumTP·1e9 wraps int64 past tp_g·cumTP ≈ 9.2e9 — widened in r7
    # (ADVICE r6); floored terms narrow back to BIGINT before the sum
    "q_average_precision": (
        "apachebeam_python_spark.queries.experiments",
        "q_average_precision",
    ),
}


@pytest.mark.parametrize("name", sorted(RISKY))
def test_widened_casts_present(name):
    """The 128-bit widening must exist in BOTH engines' formulations: the
    Spark source uses decimal(38,0) (directly or via the _HI alias) and the
    DuckDB oracle uses HUGEINT. Dropping either silently reintroduces the
    int64 overflow ADVICE caught in round 4."""
    import importlib

    mod_name, fn_name = RISKY[name]
    mod = importlib.import_module(mod_name)
    src = inspect.getsource(getattr(mod, fn_name))
    assert "decimal(38,0)" in src or "_HI" in src or "hi(" in src, (
        f"{name}: Spark source lost its 128-bit widening"
    )
    assert "HUGEINT" in q.ORACLES[name], f"{name}: oracle lost its HUGEINT widening"


def test_pair_census_headroom(spark, sf_dir, ddb):
    """q_cliffs_delta / q_gk_gamma pair censuses: n₁·n₂ at the live fixture
    must keep ≥64× headroom under the OUTPUT type (int64) — the internal
    accumulation is 128-bit, so this bounds the only narrow point."""
    n1, n2 = ddb.execute(
        "SELECT sum(CASE WHEN event_type='click' THEN 1 ELSE 0 END),"
        "       sum(CASE WHEN event_type='view' THEN 1 ELSE 0 END)"
        " FROM events WHERE value IS NOT NULL"
    ).fetchone()
    assert (n1 or 0) * (n2 or 0) * 64 < INT64_MAX


def test_tie_cube_headroom(spark, sf_dir, ddb):
    """Σ t³ profile (q_friedman / q_mann_kendall tie terms): N³ at
    the live fixture must keep ≥64× headroom inside decimal(38,0)."""
    (n,) = ddb.execute("SELECT count(*) FROM events WHERE value IS NOT NULL").fetchone()
    assert 2 * n**3 * 64 < DEC38_MAX


def test_betweenness_sigma_headroom(spark, sf_dir, ddb):
    """σ_sv·σ_st·720720 (q_betweenness's exact-rational census): the
    fixture nation graph's max path count σ must satisfy
    σ²·720720·64 < 10³⁸. σ is bounded by the max per-level branching
    (≤ node count = 25) to the power of the diameter (≤ 4 on this dense
    graph), so pin the analytic ceiling rather than re-running BFS."""
    sigma_max = 25**4
    assert sigma_max**2 * 720720 * 64 < DEC38_MAX
