#!/usr/bin/env python
"""Example 6 — product analytics over the event stream: funnel, cohort
retention, top 3-step journeys, rolling 7-day distinct users, and the
key-skew diagnostic that decides the shuffle strategy.

Run: python examples/product_analytics.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from apachebeam_python_spark.queries import QUERIES
from apachebeam_python_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("example-analytics")
    spark.sparkContext.setLogLevel("ERROR")

    print("ordered funnel (view → click → purchase):")
    QUERIES["q_funnel"](spark, sf_dir).orderBy("step_no").show()

    print("cohort retention (first-activity week × weeks since):")
    QUERIES["q_cohort_retention"](spark, sf_dir).orderBy(
        "cohort_week", "week_no"
    ).show(8)

    print("top 3-step user journeys (top 5 paths):")
    QUERIES["q_funnel_paths"](spark, sf_dir).show(5, truncate=False)

    print("rolling 7-day distinct users (last 5 days):")
    QUERIES["q_rolling_distinct"](spark, sf_dir).orderBy(
        F.col("day").desc()
    ).show(5)

    print("last-touch attribution for purchases:")
    QUERIES["q_attribution"](spark, sf_dir).orderBy(
        F.col("n_purchases").desc(), "attributed"
    ).show()

    print("key-skew diagnostic for event_type (pick the shuffle strategy):")
    QUERIES["q_skew_report"](spark, sf_dir).show(truncate=False)

    print("time-to-convert (first view → first purchase):")
    QUERIES["q_funnel_latency"](spark, sf_dir).show()

    print("value-distribution drift vs first-half baseline (PSI, >0.2 = investigate):")
    QUERIES["q_drift_psi"](spark, sf_dir).orderBy(F.col("psi").desc()).show()

    print("trending terms (trailing week vs baseline, top lifts):")
    QUERIES["q_trending_terms"](spark, sf_dir).orderBy(
        F.col("lift").desc(), "term"
    ).show(5)

    print("MAD outlier census per event type (3 robust sigmas):")
    QUERIES["q_mad_outliers"](spark, sf_dir).orderBy("event_type").show()


if __name__ == "__main__":
    main()
