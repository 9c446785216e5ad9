"""Rows-only ledger (VERDICT r7 #5): every query without a DuckDB oracle
must carry (a) a documented reason in README's ledger table and (b) a pytest
pinning a STRONGER-than-rowcount property. This module holds the property
tests of the rows-only queries that had only operator-level tests, plus the
completeness check that keeps the README table in sync with the registry."""

from __future__ import annotations

import pathlib
import re

import pytest

from pyspark.sql import functions as F

from apachebeam_python_spark import queries as q
from apachebeam_python_spark.operators import aggregations as agg
from apachebeam_python_spark.session import table


def test_rows_only_ledger_is_complete():
    """README's ledger table must list EXACTLY the registry's rows-only
    queries — a new rows-only registration without a ledger row (or a
    stale row for an upgraded query) fails here, locally."""
    readme = (pathlib.Path(__file__).resolve().parent.parent / "README.md").read_text()
    m = re.search(
        r"## Rows-only ledger.*?\n(\|.*?)\n\n", readme, flags=re.S
    )
    assert m, "README is missing the '## Rows-only ledger' table"
    listed = set(re.findall(r"^\| *`(q_\w+)`", m.group(1), flags=re.M))
    rows_only = set(q.QUERIES) - set(q.ORACLES)
    assert listed == rows_only, (
        f"ledger drift: missing={sorted(rows_only - listed)} "
        f"stale={sorted(listed - rows_only)}"
    )


def test_approx_quantiles_rank_error(spark, sf_dir):
    """q_approx_sample's 'quantiles' arm (percentile_approx,
    accuracy=10000): each returned quantile's TRUE rank must sit within 2%
    of the requested probability — a rank-error bound, much stronger than
    'returns rows'."""
    rows = [
        r for r in q.QUERIES["q_approx_sample"](spark, sf_dir).collect()
        if r.tag == "quantiles"
    ]
    assert rows, "quantiles arm missing"
    orders = (
        table(spark, sf_dir, "orders")
        .select("o_orderstatus", "o_totalprice")
        .collect()
    )
    by_status: dict[str, list[float]] = {}
    for r in orders:
        by_status.setdefault(r.o_orderstatus, []).append(float(r.o_totalprice))
    probs = (0.5, 0.9, 0.99)
    for r in rows:
        vals = [float(x) for x in r.vals.split(",")]
        assert len(vals) == 3
        data = sorted(by_status[r.key])
        n = len(data)
        for p, v in zip(probs, vals):
            rank_lo = sum(1 for x in data if x < v) / n
            rank_hi = sum(1 for x in data if x <= v) / n
            assert rank_lo - 0.02 <= p <= rank_hi + 0.02, (
                r.key, p, v, rank_lo, rank_hi,
            )
            assert data[0] <= v <= data[-1]


def test_fixed_size_sample_properties(spark, sf_dir):
    """Sample.FixedSizeGlobally(100), seeded — q_approx_sample's 'sample'
    arm: exactly 100 rows, every row a REAL customer row (subset, not
    fabricated), and the draw is reproducible within a session (same
    seed, same layout)."""
    a = agg.sample_fixed_global(table(spark, sf_dir, "customer"), 100)
    n_src = table(spark, sf_dir, "customer").count()
    want = min(100, n_src)
    rows_a = a.collect()
    assert len(rows_a) == want
    ids = [r.c_custkey for r in rows_a]
    assert len(set(ids)) == want  # no duplicates: it's a sample, not a resample
    matched = (
        a.select("c_custkey")
        .join(table(spark, sf_dir, "customer"), "c_custkey", "left_semi")
        .count()
    )
    assert matched == want
    rows_b = agg.sample_fixed_global(table(spark, sf_dir, "customer"), 100).collect()
    assert sorted(ids) == sorted(r.c_custkey for r in rows_b)


def test_approx_sample_arms_properties(spark, sf_dir):
    """q_approx_sample folds four approximate arms into one frame; each
    arm gets its own bound: hll within 10% of exact, quantiles inside the
    per-key [min, max], sample n exactly 100, sample_per_key counts ≤ 10."""
    rows = q.QUERIES["q_approx_sample"](spark, sf_dir).collect()
    by_tag: dict[str, list] = {}
    for r in rows:
        by_tag.setdefault(r.tag, []).append(r)

    exact_nd = {
        r.event_type: r.nd
        for r in table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("nd"))
        .collect()
    }
    assert {r.key for r in by_tag["hll"]} == set(exact_nd)
    for r in by_tag["hll"]:
        e = exact_nd[r.key]
        assert abs(r.n - e) <= max(2, 0.10 * e), (r.key, r.n, e)

    bounds = {
        r.o_orderstatus: (float(r.lo), float(r.hi))
        for r in table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi"))
        .collect()
    }
    for r in by_tag["quantiles"]:
        vals = [float(x) for x in r.vals.split(",")]
        lo, hi = bounds[r.key]
        assert len(vals) == 3 and vals == sorted(vals)
        assert all(lo <= v <= hi for v in vals), (r.key, vals, lo, hi)

    n_cust = table(spark, sf_dir, "customer").count()
    assert [r.n for r in by_tag["sample"]] == [min(100, n_cust)]
    assert by_tag["sample_per_key"], "sample_per_key arm missing"
    for r in by_tag["sample_per_key"]:
        assert 1 <= r.n <= 10, (r.key, r.n)


def test_simhash_banding_complete_vs_bruteforce(spark, sf_dir):
    """q_dedup_sketch's 'simhash' arm, pigeonhole claim proven: with 16
    bands of 4 bits the banded candidate join must recover EXACTLY the
    brute-force set of pairs at Hamming ≤ 12 (radius < #bands ⇒ some band
    matches — no recall loss, and the verify filter removes false
    candidates)."""
    from apachebeam_python_spark.operators.dedup import simhash

    sigs = {
        r.doc_id: r.simhash
        for r in simhash(
            table(spark, sf_dir, "documents"), "text", "doc_id"
        ).collect()
    }
    ids = sorted(sigs)
    exact = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)).count("1") <= 12
    }
    got = {
        (r.id_a, r.id_b)
        for r in q.QUERIES["q_dedup_sketch"](spark, sf_dir)
        .filter(F.col("method") == "simhash")
        .collect()
    }
    assert got == exact, (
        f"banding lost {len(exact - got)} pairs, invented {len(got - exact)}"
    )
