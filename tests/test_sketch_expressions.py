"""The SimHash and hyperplane-LSH expressions: cheap to build, right in value.

Both are wide expressions (64 vote aggregates, 64 band keys, n_tables ×
n_bits projections), built as SQL text that the JVM parses once. One test
pins the construction cost in py4j round trips; the others re-derive the
signatures and bucket ids in Python from Spark's own hash values, so a
wrong bit order, shift or fold fails here rather than in a recall bound.
"""

from __future__ import annotations

from collections import defaultdict

import py4j.clientserver as cs
from pyspark.sql import functions as F

from apachebeam_python_spark import queries as q
from apachebeam_python_spark.operators import dedup as D
from apachebeam_python_spark.operators import similarity as SIM
from apachebeam_python_spark.session import table


def _signed64(u: int) -> int:
    return u - (1 << 64) if u >= 1 << 63 else u


def test_dedup_sketch_build_round_trips(spark, sf_dir, monkeypatch):
    """Building q_dedup_sketch (its eager size probes included) stays under
    8 000 driver→JVM calls; one call per Column node cost ~32 800."""
    calls = [0]
    send = cs.ClientServerConnection.send_command

    def counting(self, command):
        calls[0] += 1
        return send(self, command)

    monkeypatch.setattr(cs.ClientServerConnection, "send_command", counting)
    q.QUERIES["q_dedup_sketch"](spark, sf_dir)
    assert 0 < calls[0] <= 8000, f"{calls[0]} py4j round trips to build q_dedup_sketch"


def test_simhash_matches_python_reference(spark, sf_dir):
    """Signature bit i is set iff more of the doc's distinct tokens have
    bit i set in xxhash64(tok) than not (ties clear the bit)."""
    docs = table(spark, sf_dir, "documents")
    toks = {r.doc_id: set(r.text.split(" ")) for r in docs.select("doc_id", "text").collect()}
    vocab = sorted(set().union(*toks.values()))
    h = {
        r.tok: r.h
        for r in spark.createDataFrame([(t,) for t in vocab], "tok string")
        .select("tok", F.xxhash64("tok").alias("h"))
        .collect()
    }
    expected = {}
    for doc_id, ts in toks.items():
        sig = 0
        for i in range(64):
            votes = sum(1 if (h[t] >> i) & 1 else -1 for t in ts)
            sig |= (votes > 0) << i
        expected[doc_id] = _signed64(sig)

    got = {r.doc_id: r.simhash for r in D.simhash(docs, "text", "doc_id").collect()}
    assert got == expected


def test_lsh_buckets_match_python_reference(spark, sf_dir):
    """Bucket bits, most significant first, are sign(<v, w>) for the plane
    w_i = pmod(xxhash64(table, bit, i), 2)*2-1 (INT arguments, i from 1),
    with <v, w> summed as a sequential float64 left fold from 0.0 — the
    order Spark's ``aggregate`` uses, so ties at zero agree too."""
    n_tables, n_bits = 16, 4
    emb = table(spark, sf_dir, "embeddings")
    vecs = {r.vec_id: [float(x) for x in r.embedding] for r in emb.collect()}
    dim = max(len(v) for v in vecs.values())
    grid = spark.createDataFrame(
        [(t, b, i) for t in range(n_tables) for b in range(n_bits) for i in range(1, dim + 1)],
        "t int, b int, i int",
    )
    planes = defaultdict(dict)
    for r in grid.select("t", "b", "i", F.expr("pmod(xxhash64(t, b, i), 2) * 2 - 1").alias("w")).collect():
        planes[(r.t, r.b)][r.i] = float(r.w)

    expected = set()
    for vec_id, v in vecs.items():
        for t in range(n_tables):
            bucket = 0
            for b in range(n_bits):
                proj = 0.0
                for i, x in enumerate(v, start=1):
                    proj = proj + x * planes[(t, b)][i]
                bucket = bucket * 2 + (proj >= 0)
            expected.add((vec_id, t, bucket))

    got = {
        (r.doc_id, r.tbl, r.bucket)
        for r in SIM.lsh_buckets(
            emb, "embedding", "vec_id", n_tables=n_tables, n_bits=n_bits, with_vectors=False
        ).collect()
    }
    assert got == expected
