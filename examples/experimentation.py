#!/usr/bin/env python
"""Example 8 — experimentation & statistical modeling: the A/B read-out
(covariate balance gate + CUPED-adjusted metric), trend/seasonality
screens (OLS slope, ACF, seasonal anomalies, Holt forecasts), pipeline
counters via the Observation side channel, and a PCA projection of the
embedding table.

Run: python examples/experimentation.py [sf_dir]
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
    spark = get_spark("example-experiments")
    spark.sparkContext.setLogLevel("ERROR")

    print("covariate balance across variants (standardized mean difference):")
    QUERIES["q_covariate_balance"](spark, sf_dir).show()

    print("CUPED-adjusted metric (variance ratio = fraction kept):")
    QUERIES["q_cuped"](spark, sf_dir).orderBy("variant").show()

    print("per-flag OLS revenue trend:")
    QUERIES["q_ols_trend"](spark, sf_dir).orderBy("flag").show()

    print("autocorrelation of the daily metric (lags 1/2/7):")
    QUERIES["q_acf"](spark, sf_dir).show()

    print("seasonal anomalies (day-of-week baseline, 3·MAD gate):")
    QUERIES["q_seasonal_anomaly"](spark, sf_dir).filter(
        F.col("is_anomaly") == 1
    ).orderBy("day").show(5)

    print("Holt level+trend forecast (last 5 days of 'purchase'):")
    QUERIES["q_forecast_holt"](spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    ).orderBy(F.col("day").desc()).show(5)

    print("pipeline metrics via the Observation side channel:")
    QUERIES["q_pipeline_metrics"](spark, sf_dir).show()

    print("PCA projection of embeddings (first 5 vectors):")
    QUERIES["q_pca_project"](spark, sf_dir).orderBy("vec_id").show(5)
    # NOTE: no spark.stop() — the session is the process-wide shared one.


if __name__ == "__main__":
    main()
