#!/usr/bin/env python
"""Example 9 — round-4 statistics & governance toolkit: classical
hypothesis tests (chi-square, Mann-Whitney, KS, Friedman) over the
events stream, seasonal-trend decomposition, exact activity bitmaps, the
grid-bucketed spatial join, k-core graph peeling, token entropy quality
scoring, and a differentially private median.

Run: python examples/statistics_toolkit.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from apachebeam_python_spark.queries import QUERIES
from apachebeam_python_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("example-stats")
    spark.sparkContext.setLogLevel("ERROR")

    print("chi-square independence: event_type x value band")
    QUERIES["q_chi_square"](spark, sf_dir).show()

    print("Mann-Whitney U: click vs view values (tie-corrected z)")
    QUERIES["q_mann_whitney"](spark, sf_dir).show()

    print("two-sample Kolmogorov-Smirnov: click vs view")
    QUERIES["q_ks_test"](spark, sf_dir).show()

    print("Friedman test across event types (users as blocks)")
    QUERIES["q_friedman"](spark, sf_dir).show()

    print("seasonal-trend decomposition of hourly revenue (first day)")
    QUERIES["q_stl_decompose"](spark, sf_dir).orderBy("day", "h").show(24)

    print("exact activity-day bitmaps (popcount readouts)")
    QUERIES["q_activity_bitmap"](spark, sf_dir).orderBy("event_type").show()

    print("grid-bucketed spatial nearest-POI join (first 10)")
    QUERIES["q_spatial_grid_join"](spark, sf_dir).orderBy("user_id").show(10)

    print("3-core of the supplier->customer nation graph")
    QUERIES["q_kcore"](spark, sf_dir).orderBy("node").show()

    print("token entropy quality scores (first 10 docs)")
    QUERIES["q_token_entropy"](spark, sf_dir).orderBy("doc_id").show(10)

    print("DP median per event type (exponential mechanism)")
    QUERIES["q_dp_median"](spark, sf_dir).orderBy("event_type").show()
    # no spark.stop(): examples run in-process inside the test suite against
    # the shared session (tests/test_antipatterns.py pins this)


if __name__ == "__main__":
    main()
