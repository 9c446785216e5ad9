#!/usr/bin/env python
"""Example 5 — lake maintenance day-2 loop on a plain-parquet table
(sources/layout.py; scale_notes.md "Lake maintenance").

A partitioned events table accumulates small files from incremental
ingest; a CDC batch arrives with corrections. The maintenance pass:

1. `file_report`   — observe the small-files problem per file
2. `compact_partition` — rewrite ONLY the debris partition
3. `merge_upsert` + `overwrite_partition` — apply the CDC batch as a
   partition-surgical MERGE (latest-wins, idempotent)
4. re-report — prove files are consolidated and rows preserved

Everything here scales by touched-partition size, not table size: the
same loop on a 100 TB table rewrites only the partitions the day's
ingest and CDC actually touched.

Run: python examples/lake_maintenance.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from apachebeam_python_spark.session import get_spark, scratch_dir, table
from apachebeam_python_spark.sources import layout


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("example-lake-maintenance")
    spark.sparkContext.setLogLevel("ERROR")

    path = scratch_dir("examples", "events_lake")
    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value", "event_type"
    )

    # day-1 ingest leaves 6 small files per partition (streaming debris)
    layout.overwrite_partition(ev.repartition(6), path, ["event_type"])
    n_rows = spark.read.parquet(path).count()
    rep = layout.file_report(spark, path)
    print("before maintenance:", rep.count(), "files for", n_rows, "rows")

    # 1-2: compact the noisiest partition only — siblings untouched
    layout.compact_partition(spark, path, "event_type = 'click'", target_files=1)

    # 3: CDC batch — corrections for a deterministic slice, stamped later
    base = spark.read.parquet(path)
    fix = (
        base.filter(F.col("event_id") % 97 == 0)
        .withColumn("value", F.round(F.col("value") * 0.5, 2))
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 DAY"))
    )
    merged = layout.merge_upsert(
        base.filter(F.col("event_type").isin("click", "error")),
        fix.filter(F.col("event_type").isin("click", "error")),
        ["event_id"],
        "ts",
    )
    # Materialize BEFORE overwriting: merged's lineage reads the very files
    # the write replaces (read-your-own-overwrite). On a real lake the CDC
    # merge reads the previous snapshot or a separate staging path instead.
    merged = merged.localCheckpoint(eager=True)
    # write back only the touched partitions; the other partitions' files
    # are never rewritten (dynamic partition overwrite)
    layout.overwrite_partition(merged.repartition(1), path, ["event_type"])

    after = spark.read.parquet(path)
    assert after.count() == n_rows, "merge must preserve row count (pure update)"
    n_fixed = after.filter(
        (F.col("event_id") % 97 == 0) & F.col("event_type").isin("click", "error")
    ).count()
    rep2 = layout.file_report(spark, path)
    print(f"after maintenance: {rep2.count()} files, {n_fixed} corrected rows")


if __name__ == "__main__":
    main()
