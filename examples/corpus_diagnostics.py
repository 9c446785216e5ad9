#!/usr/bin/env python
"""Example 7 — corpus diagnostics & mixing: the statistics pass a curation
team runs BEFORE committing to a training mixture — unigram-LM perplexity
bands, compression-ratio entropy bands, Zipf health check, vocabulary/OOV
coverage per source, PMI phrase candidates, and per-domain quota capping.

Run: python examples/corpus_diagnostics.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from apachebeam_python_spark import queries as q
from apachebeam_python_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("example-diagnostics")
    spark.sparkContext.setLogLevel("ERROR")

    # corpus health: does the token distribution look like natural text?
    zipf = q.QUERIES["q_zipf_diag"](spark, sf_dir).collect()[0]
    print(
        f"Zipf fit over top-{zipf.n_types} types: slope={zipf.zipf_slope} "
        f"(natural corpora ≈ -1), R²={zipf.fit_r2}"
    )

    # per-document quality signals: LM surprisal bands × entropy bands
    lm = q.QUERIES["q_unigram_lm_score"](spark, sf_dir)
    comp = q.QUERIES["q_compress_ratio"](spark, sf_dir)
    cross = (
        lm.join(comp, "doc_id")
        .groupBy("ppl_band", "band")
        .agg(F.count("*").alias("n"))
        .orderBy("ppl_band", "band")
    )
    print("perplexity-quartile × entropy-band census:")
    for r in cross.collect():
        print(f"  ppl_band={r.ppl_band} {r.band:>12}: {r.n}")

    # mixture design inputs: coverage + caps per source
    print("vocabulary coverage per source (top-500 vocab):")
    for r in q.QUERIES["q_vocab_coverage"](spark, sf_dir).orderBy("source").collect():
        print(f"  {r.source:>8}: {r.total_tokens} tokens, OOV {r.oov_rate:.1%}")
    print("temperature-rebalanced source mix (T = 2):")
    for r in q.QUERIES["q_temperature_mix"](spark, sf_dir).orderBy("source").collect():
        print(f"  {r.source:>8}: keep {r.keep_rate:.3f} of {r.n_s} -> {r.n_kept} docs")

    # phrase candidates for a tokenizer glossary
    print("top PMI collocations:")
    for r in q.QUERIES["q_pmi_collocations"](spark, sf_dir).limit(5).collect():
        print(f"  '{r.w1} {r.w2}' (n={r.pair_n}, pmi={r.pmi})")
    # NOTE: no spark.stop() — get_spark() returns the process-wide shared
    # session (tests and other examples reuse it); stopping it here kills
    # every later consumer in the same JVM.


if __name__ == "__main__":
    main()
