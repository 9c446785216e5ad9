#!/usr/bin/env python
"""Example 10 — governed-lake workflow: branch, experiment, adjudicate,
restore, then maintain the log (sources/laketable.py wave 3).

The day-2 loop a governed training-data lake actually runs:

1. `create_table` + `append`     — the production corpus accumulates
2. `shallow_clone`               — zero-copy BRANCH of the current snapshot
3. risky pass on the branch      — an aggressive quality gate (here: drop
                                   every doc whose FORCAST readability
                                   grade is extreme) via `overwrite`
4. diff branch vs prod           — row counts + per-source deltas decide
5. promote OR abandon            — promote = `overwrite` prod from branch;
                                   here we promote, then an incident review
                                   disagrees and `restore`s the pre-promote
                                   snapshot — and later re-`restore`s
                                   FORWARD once the gate is re-adjudicated
                                   (history stays append-only throughout)
6. `compact_manifests` + `vacuum` — squash the grown log into a checkpoint
                                   summary and reclaim dead files

Run: python examples/governed_lake.py [sf_dir]
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from apachebeam_python_spark.session import get_spark, scratch_dir, table
from apachebeam_python_spark.sources import laketable as LT


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("example-governed-lake")
    spark.sparkContext.setLogLevel("ERROR")

    root = scratch_dir("examples", "governed_lake")
    shutil.rmtree(root, ignore_errors=True)
    prod = os.path.join(root, "corpus")
    branch = os.path.join(root, "corpus_gate_exp")

    docs = table(spark, sf_dir, "documents")
    first, rest = docs.filter(F.col("doc_id") % 2 == 0), docs.filter(
        F.col("doc_id") % 2 == 1
    )

    # 1. production corpus: initial load + an incremental append
    LT.create_table(first, prod)
    LT.append(rest, prod)
    base_rows = LT.read_table(spark, prod).count()
    print(f"prod v{LT.current_version(prod)}: {base_rows} docs")

    # 2. zero-copy branch of the current snapshot
    LT.shallow_clone(spark, prod, branch)

    # 3. risky pass ON THE BRANCH: FORCAST-style readability gate
    b = LT.read_table(spark, branch)
    ws = F.split(F.col("text"), " ")
    mono = F.expr(
        "size(filter(split(text, ' '), w -> size(regexp_extract_all(w, '[aeiou]+', 0)) = 1))"
    )
    grade = 20.0 - 15.0 * (mono.cast("double") / F.size(ws))
    gated = b.withColumn("grade", F.round(grade, 3)).filter(
        F.col("grade").between(5.0, 20.0)
    ).drop("grade")
    LT.overwrite(gated, branch)

    # 4. diff: what would the gate cost production?
    kept = LT.read_table(spark, branch).count()
    print(f"branch gate keeps {kept}/{base_rows} docs")

    # 5. promote, incident, restore back, re-adjudicate, restore FORWARD
    LT.overwrite(LT.read_table(spark, branch), prod)
    promoted_v = LT.current_version(prod)
    LT.restore(prod, promoted_v - 1)  # incident review: roll back
    print(f"rolled back: {LT.read_table(spark, prod).count()} docs")
    LT.restore(prod, promoted_v)  # re-adjudicated: roll FORWARD again
    print(f"rolled forward: {LT.read_table(spark, prod).count()} docs")
    assert LT.read_table(spark, prod).count() == kept

    # 6. log + storage maintenance
    squashed = LT.compact_manifests(prod, keep_last=3)
    removed = LT.vacuum(prod, keep_last=3, retention_seconds=0)
    print(
        f"log: squashed {squashed} manifests into the checkpoint, "
        f"vacuumed {removed} dead files; history still reports "
        f"{len(LT.history(prod))} versions"
    )


if __name__ == "__main__":
    main()
