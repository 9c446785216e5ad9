#!/usr/bin/env python
"""Round-12 Spark-side phase profiler (guide §1.4): time each candidate
query's Spark computation alone via the noop sink — the registry sweep's
elapsed_sec includes the DuckDB oracle + toPandas, which r11 proved can be
~98% of a sweep entry. Best-of-2 after one untimed warm pass for the first
query; parallel-scan layout like bench.py.

Usage: python .tmp/profile_r12.py [q1 q2 ...]
"""
from __future__ import annotations

import json
import os
import sys
import tempfile
import time

REPO = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
sys.path.insert(0, REPO)

from apachebeam_python_spark import queries as q  # noqa: E402
from apachebeam_python_spark.operators.dedup import (  # noqa: E402
    release_signature_caches,
)
from apachebeam_python_spark.session import (  # noqa: E402
    DEFAULT_SF_DIR,
    TABLES,
    get_spark,
    table,
)
from apachebeam_python_spark.sources.layout import (  # noqa: E402
    rewrite_for_parallel_scan,
)

DEFAULT_TARGETS = [
    # graph family (VERDICT r11 #1 targets + the rest of the loop family)
    "q_cycle_nodes",
    "q_closeness_centrality",
    "q_harmonic_centrality",
    "q_kcore",
    "q_communities_lpa",
    "q_scc",
    "q_sssp_weighted",
    "q_bfs_reachability",
    "q_dag_layers",
    "q_pagerank",
    # spatial / poi-distance family (VERDICT r11 #3)
    "q_spatial_grid_join",
    "q_spatial_haversine",
    "q_spatial_knn",
    # unprofiled tail (VERDICT r11 #5)
    "q_kmeans",
    "q_dedup_clusters",
    "q_scan_avro_ds",
    "q_dedup_sketch",
    "q_ann_lsh",
    "q_dedup_ngram_jaccard",
    "q_dedup_canonical",
    "q_dedup_simhash",
    "q_dedup_containment",
    "q_dedup_embedding",
    "q_semantic_dedup",
    "q_resample_linterp",
    "q_elementwise",
    "q_activity_bitmap",
    "q_skyline",
    "q_proration",
    "q_export_tfrecord",
    "q_bloom_decontaminate",
    "q_groupbykey_batches",
    "q_bigram_lm_score",
    "q_acf",
]


def main() -> None:
    names = sys.argv[1:] or DEFAULT_TARGETS
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    spark = get_spark("profile-r12")
    spark.sparkContext.setLogLevel("ERROR")
    table(spark, sf_dir, "lineitem").count()
    bench_dir = tempfile.mkdtemp(prefix="spark_graft_profile_")
    rewrite_for_parallel_scan(spark, sf_dir, bench_dir, TABLES)
    out = {}
    for name in names:
        if name not in q.QUERIES:
            out[name] = None
            continue
        spark.sparkContext.setJobDescription(f"profile:{name}")
        times = []
        for i in range(2):
            t0 = time.monotonic()
            q.QUERIES[name](spark, bench_dir).write.mode("overwrite").format(
                "noop"
            ).save()
            times.append(round(time.monotonic() - t0, 3))
            release_signature_caches()
        out[name] = {"passes": times, "best": min(times)}
        print(f"{name}: {times}", file=sys.stderr)
        spark.sparkContext.setJobDescription(None)
    import shutil

    shutil.rmtree(bench_dir, ignore_errors=True)
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
