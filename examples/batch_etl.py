#!/usr/bin/env python
"""Example 1 — batch ETL, the canonical reference-repo shape
(read → filter → enrich via side input → keyed combine → write).

Run: python examples/batch_etl.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from apachebeam_python_spark.pipeline import Pipeline
from apachebeam_python_spark.session import get_spark, scratch_dir, table


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("example-batch-etl")
    spark.sparkContext.setLogLevel("ERROR")

    # gate the pipeline on a one-pass data-quality report (operators.quality)
    from apachebeam_python_spark.operators.quality import check_constraints

    quality = check_constraints(
        table(spark, sf_dir, "customer"),
        {"custkey_not_null": F.col("c_custkey").isNotNull(),
         "acctbal_in_range": F.col("c_acctbal").between(-1000, 10000)},
        unique=["c_custkey"],
    )
    quality.show(truncate=False)
    failed = [r.check_name for r in quality.collect() if not r.passed]
    if failed:
        raise SystemExit(f"input failed quality checks: {failed}")

    nation = table(spark, sf_dir, "nation")

    report = (
        Pipeline.of(table(spark, sf_dir, "customer"))
        .filter(F.col("c_acctbal") > 0)
        .join_broadcast(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .combine_per_key(
            ["n_name"],
            n_customers=F.count("*"),
            total_balance=F.round(F.sum("c_acctbal"), 2),
        )
        .to_df()
        .orderBy(F.col("total_balance").desc())
    )
    report.show(10, truncate=False)

    out = scratch_dir("examples", "customer_report")
    Pipeline.of(report).write_parquet(out)
    print(f"wrote {out}")

    # interchange sinks beyond parquet: the jar-free Avro container codec,
    # registered as a first-class format via the Python DataSource API
    from apachebeam_python_spark.sources.pyds import AvroLiteDataSource

    spark.dataSource.register(AvroLiteDataSource)
    avro_out = scratch_dir("examples", "customer_report_avro")
    import shutil

    shutil.rmtree(avro_out, ignore_errors=True)
    report.write.format("avro_lite").mode("append").save(avro_out)
    n = spark.read.format("avro_lite").load(avro_out).count()
    print(f"avro round trip via format('avro_lite'): {n} rows")

    # training-data hand-off: WebDataset tar shards the loaders stream
    from apachebeam_python_spark.sources.mlexport import (
        read_webdataset,
        write_webdataset,
    )

    docs = table(spark, sf_dir, "documents").withColumn(
        "shard", (F.col("doc_id") / 64).cast("long")
    )
    wds_out = scratch_dir("examples", "corpus_wds")
    shutil.rmtree(wds_out, ignore_errors=True)
    write_webdataset(docs, wds_out, "doc_id", "text", ["source", "lang"], "shard")
    m = read_webdataset(spark, wds_out, ["source", "lang"]).count()
    print(f"webdataset round trip: {m} docs in tar shards")


if __name__ == "__main__":
    main()
