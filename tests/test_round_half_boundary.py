"""Rounding half-boundary divergence class — measured and pinned (ADVICE r8).

The repo-wide oracle convention rounds float aggregates in BOTH engines
(SURVEY §7.4.4). Spark ``F.round(x, 6)`` applies HALF_UP to BigDecimal.
valueOf(x) — i.e. to the SHORTEST DECIMAL REPR of the double — while DuckDB
rounds the binary value. The two disagree exactly when the double sits
within ~1 ulp of a 6-dp half boundary: Spark sees the repr (e.g.
``'0.0002445'`` → up), DuckDB sees the binary value (…44499999 → down), or
vice versa (``2.4999999999999998e-06``: repr below half → Spark down,
binary ≈2.5e-6 → DuckDB up).

A measured probe (round 9) over 4 588 adversarial near-half doubles found
exactly 100 divergences — all of them ±1 final digit, none elsewhere. For
oracle queries this is a NEGLIGIBLE-probability class (an aggregate must
land within 1 ulp of a half boundary), but it is the known failure shape
when a hash mismatch shows two values differing by exactly 1e-6: check the
boundary before suspecting logic. oracle-parity-gotchas records the rule.

Past ~2.25e9 the class widens: DuckDB computes ``round(x·10⁶) / 10⁶``, and
there the product x·10⁶ itself rounds (its ulp is 0.5 or more), so
3234717205.6562853 is …286 in DuckDB and …285 in Spark. A query that
rounds such magnitudes evaluates DuckDB's formula (``stats_tests._round6``).
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from apachebeam_python_spark import queries as q
from apachebeam_python_spark.queries._registry import ORACLES
from apachebeam_python_spark.queries.stats_tests import _round6

from .parity import assert_parity

pytestmark = pytest.mark.driver  # newest-round evidence → fast gate


def _spark_round6(spark, vals):
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "i long, v double"
    )
    return {
        r.i: r.r for r in df.select("i", F.round("v", 6).alias("r")).collect()
    }


def _duck_round6(vals):
    con = duckdb.connect()
    return [
        con.execute("SELECT round(?::DOUBLE, 6)", [v]).fetchone()[0]
        for v in vals
    ]


def test_round6_parity_off_boundary(spark):
    """The contract actually relied on: away from half boundaries (here a
    deterministic grid offset ±1e-8 from each boundary — far beyond the
    ulp-adjacency that triggers the class) the engines agree exactly."""
    vals = []
    for k in range(1, 500):
        v = k * 1e-6 + 5e-7
        vals += [v + 1e-8, v - 1e-8, -v + 1e-8, -v - 1e-8]
    for base in [1.0, 123.456789, 98765.4321]:
        for k in range(1, 50):
            vals += [base + k * 1e-6 + 3e-7, base + k * 1e-6 + 7e-7]
    got_s = _spark_round6(spark, vals)
    got_d = _duck_round6(vals)
    diffs = [
        (vals[i], got_s[i], got_d[i])
        for i in range(len(vals))
        if got_s[i] != got_d[i]
    ]
    assert not diffs, f"off-boundary rounding diverged: {diffs[:5]}"


#: measured divergent examples (round-9 probe) — shortest repr on one side
#: of the 6-dp half, binary value on the other
_KNOWN_DIVERGENT = [
    2.4999999999999998e-06,   # repr < half (Spark down), binary ≈ half (Duck up)
    5.4499999999999997e-05,
    0.0002445,                # repr = half (Spark up), binary < half (Duck down)
]


def test_round6_half_boundary_class_pinned(spark):
    """The divergence class is REAL and bounded: the pinned examples
    disagree across engines, and every disagreement is exactly one step of
    the final digit (1e-6) — never more. This is documentation-as-test: if
    either engine changes its rounding, this pin fails and the
    oracle-convention note must be revisited."""
    vals = _KNOWN_DIVERGENT + [-v for v in _KNOWN_DIVERGENT]
    got_s = _spark_round6(spark, vals)
    got_d = _duck_round6(vals)
    n_diverged = 0
    for i, v in enumerate(vals):
        if got_s[i] != got_d[i]:
            n_diverged += 1
            assert abs(got_s[i] - got_d[i]) <= 1.0000001e-6, (
                f"divergence larger than one final digit at {v!r}: "
                f"spark={got_s[i]} duck={got_d[i]}"
            )
    assert n_diverged == len(vals), (
        "pinned examples no longer diverge — an engine changed its rounding; "
        "update the oracle-convention note"
    )


def test_duckdb_round6_twin_matches_duckdb(spark):
    """``_round6`` is DuckDB's round(x, 6) on both sides of every half:
    the pinned divergent examples, the large-magnitude class and a spread
    of ordinary values, signed."""
    vals = _KNOWN_DIVERGENT + [
        3234717205.6562853,   # q_cronbach_alpha's sum_item_var at sf0.1
        4438899189.6,
        0.5e-6,
        1.5e-6,
        0.0,
    ]
    vals += [k * 987654.3210987 + k / 7 for k in range(1, 60)]
    vals += [-v for v in vals]
    df = spark.createDataFrame(list(enumerate(vals)), "i long, v double")
    got = {r.i: r.r for r in df.select("i", _round6(F.col("v")).alias("r")).collect()}
    want = _duck_round6(vals)
    diffs = [(v, got[i], want[i]) for i, v in enumerate(vals) if got[i] != want[i]]
    assert not diffs, diffs[:5]


def test_cronbach_alpha_matches_oracle_past_the_product_ulp(spark, tmp_path):
    """Five complete cases over three items: the item variances add to
    the same double in every order, 4438899189.6 (binary …6000004), which
    ``F.round(x, 6)`` keeps and DuckDB rounds to …189.600001."""
    cents = [
        [93568, 70065, 56225],
        [29676, 33861, 4507],
        [8276, 1818, 19279],
        [89459, 71435, 100403],
        [55398, 66729, 106781],
    ]
    types = ["click", "view", "error"]
    events = pd.DataFrame(
        [
            {
                "event_id": u * len(types) + j,
                "ts": pd.Timestamp("2024-01-01") + pd.Timedelta(minutes=u),
                "user_id": u,
                "event_type": t,
                "value": c / 100,
                "props": "{}",
            }
            for u, row in enumerate(cents)
            for j, (t, c) in enumerate(zip(types, row))
        ]
    )
    events["ts"] = events["ts"].astype("datetime64[us]")
    path = tmp_path / "events.parquet"
    events.to_parquet(path, index=False)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
    df = q.QUERIES["q_cronbach_alpha"](spark, str(tmp_path))
    assert_parity(df, con, ORACLES["q_cronbach_alpha"], name="q_cronbach_alpha")
