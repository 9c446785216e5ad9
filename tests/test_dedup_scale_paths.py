"""Sketch-vs-exact agreement for the scale-path dedup pair generators
(VERDICT r1 #5/#6).

q_dedup_clusters' recursive-CTE oracle assumes its minhash-LSH pair
generator produces exactly the gram-Jaccard pair set — assert that here.
The embedding-LSH arm of q_dedup_sketch is approximate by design; assert
recall against the brute-force oracle query instead.
"""

from __future__ import annotations

from apachebeam_python_spark import queries as q
from apachebeam_python_spark.operators import dedup as D
from apachebeam_python_spark.session import table

from .conftest import distributed_loop

def test_minhash_pairs_equal_exact_pairs(spark, sf_dir):
    """64 hashes / 32 bands / exact-Jaccard verify at 0.5 must reproduce the
    exact gram-Jaccard pair set (miss probability ≤ (1-0.25)^32 ≈ 1e-4 per
    pair, and xxhash64 banding is deterministic — green here means green at
    the driver forever on this fixture)."""
    docs = table(spark, sf_dir, "documents")
    exact = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in D.ngram_jaccard_pairs(docs, "text", "doc_id", shingle_n=2, threshold=0.5).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in D.minhash_lsh_pairs(
            docs, "text", "doc_id",
            shingle_n=2, num_hashes=64, bands=32, threshold=0.5,
        ).collect()
    }
    assert lsh == exact, (
        f"LSH pairs != exact pairs: missing={sorted(exact - lsh)[:5]} "
        f"extra={sorted(lsh - exact)[:5]}"
    )


def test_embedding_lsh_recall(spark, sf_dir):
    """The 'emb_lsh' arm of q_dedup_sketch must recover most of the exact
    brute-force pair set (16 tables × 4 bits ⇒ high recall at τ=0.35 on the
    fixture; 8×4 measured 0.756 — τ=0.35 is weak similarity, hence the
    wider table fan), and every pair it emits must be a true pair (the
    exact-cosine verify step makes precision 1.0)."""
    exact = {
        (r.id_a, r.id_b) for r in q.QUERIES["q_dedup_embedding"](spark, sf_dir).collect()
    }
    sketch = q.QUERIES["q_dedup_sketch"](spark, sf_dir)
    lsh = {
        (r.id_a, r.id_b)
        for r in sketch.filter(sketch.method == "emb_lsh").collect()
    }
    assert lsh <= exact, f"false positives: {sorted(lsh - exact)[:5]}"
    recall = len(lsh) / max(len(exact), 1)
    assert recall >= 0.85, f"recall {recall:.3f} < 0.85 ({len(lsh)}/{len(exact)})"


def test_connected_components_deep_chain_pointer_jump(spark):
    """A 300-node path graph converges with pointer jumping inside 12
    rounds (propagate+jump is O(log diameter)), and a cap below log2 of
    the diameter must raise instead of returning wrong labels."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(300)], "doc_a long, doc_b long"
    )
    # force the DISTRIBUTED loop (the bounded-pair driver kernel would
    # otherwise absorb this graph — the round-cap and per-round
    # pointer-jump contracts under test belong to the loop)
    out = distributed_loop(D.connected_components, pairs, max_iter=12)
    got = {r.doc_id: r.cluster_id for r in out.collect()}
    assert set(got.values()) == {0} and len(got) == 301
    # the kernel path must agree on the same labeling
    k = {
        r.doc_id: r.cluster_id
        for r in D.connected_components(pairs).collect()
    }
    assert k == got

    import pytest

    with pytest.raises(RuntimeError, match="did not converge"):
        distributed_loop(D.connected_components, pairs, max_iter=3)


def test_incremental_dedup_semantics(spark, sf_dir):
    """Re-crawled texts must all drop; edited texts must all survive."""
    from pyspark.sql import functions as F

    from apachebeam_python_spark.session import table

    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    recrawl = d.filter(F.col("doc_id") < 150).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    edited = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.concat(F.lit("v2 "), F.col("text")).alias("text"),
    )
    batch = recrawl.unionByName(edited)
    out = D.incremental_new_rows(batch, d, "text")
    ids = {r["doc_id"] for r in out.collect()}
    assert ids == {r["doc_id"] for r in edited.collect()}


def test_quantize_int8_error_bound(spark, sf_dir):
    """Reconstruction error is ≤ scale/2 element-wise, by construction."""
    from pyspark.sql import functions as F

    from apachebeam_python_spark.functions import vectors as V
    from apachebeam_python_spark.session import table

    e = table(spark, sf_dir, "embeddings")
    q = e.select(
        "vec_id", "embedding", V.quantize_scale(F.col("embedding")).alias("scale")
    ).select(
        "*", V.quantize_int8(F.col("embedding"), F.col("scale")).alias("qv")
    )
    checked = q.select(
        "vec_id",
        "scale",
        F.array_max(
            F.zip_with(
                F.col("embedding"),
                V.dequantize(F.col("qv"), F.col("scale")),
                lambda x, r: F.abs(x.cast("double") - r),
            )
        ).alias("max_err"),
        F.array_max(F.transform("qv", F.abs)).alias("max_q"),
    )
    bad = checked.filter(
        (F.col("max_err") > F.col("scale") / 2 + 1e-12) | (F.col("max_q") > 127)
    )
    assert bad.count() == 0


# ---------------------------------------------------------------------------
# Prefix-filtered exact set-similarity join (q_setsim_join)
# ---------------------------------------------------------------------------

def test_setsim_prefix_filter_is_lossless_and_prunes(spark, ddb, sf_dir):
    """The PPJoin-style candidate stage — prefix filter + the r10 length and
    position filters (VERDICT r9 #5) — must (a) never lose a qualifying
    pair, judged against an INDEPENDENT engine (DuckDB computes the true
    Jaccard ≥ t pair set with no candidate pruning at all; comparing
    against the Spark result would be circular since it derives from these
    candidates), and (b) actually prune: candidates ≪ the full shared-gram
    pair space, and the r10 filters strictly below the prefix filter
    alone."""
    from pyspark.sql import functions as F
    from pyspark.sql import Window

    from apachebeam_python_spark.queries.experiments import (
        SETSIM_T,
        _setsim_grams,
        setsim_candidates,
    )

    cand = {
        (r.da, r.db)
        for r in setsim_candidates(spark, sf_dir).collect()
    }
    truth = {
        (da, db)
        for da, db in ddb.execute(f"""
WITH toks AS (SELECT doc_id, string_split(text,' ') w FROM documents),
g AS (SELECT doc_id, unnest(list_distinct(list_transform(
       range(1,len(w)-1), i -> w[i]||' '||w[i+1]||' '||w[i+2]))) gram FROM toks),
sz AS (SELECT doc_id, count(*) n FROM g GROUP BY doc_id),
inter AS (SELECT a.doc_id da, b.doc_id db, count(*) i
          FROM g a JOIN g b ON a.gram=b.gram AND a.doc_id<b.doc_id GROUP BY 1,2)
SELECT da, db FROM inter JOIN sz sa ON sa.doc_id=da JOIN sz sb ON sb.doc_id=db
WHERE i / CAST(sa.n + sb.n - i AS DOUBLE) >= {SETSIM_T}
""").fetchall()
    }
    assert truth <= cand, (
        f"candidate filters lost {len(truth - cand)} qualifying pairs: "
        f"{sorted(truth - cand)[:5]}"
    )

    full = ddb.execute("""
WITH toks AS (SELECT doc_id, string_split(text,' ') w FROM documents),
g AS (SELECT doc_id, unnest(list_distinct(list_transform(
       range(1,len(w)-1), i -> w[i]||' '||w[i+1]||' '||w[i+2]))) gram FROM toks)
SELECT count(*) FROM (SELECT DISTINCT a.doc_id, b.doc_id
                      FROM g a JOIN g b ON a.gram=b.gram AND a.doc_id<b.doc_id)
""").fetchone()[0]
    assert len(cand) * 5 < full, (len(cand), full)

    # the r10 position/length filters must prune BELOW the prefix filter
    # alone (the pre-r10 candidate stage, reconstructed inline)
    grams = _setsim_grams(spark, sf_dir)
    dfreq = grams.groupBy("gram").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "gram")
    w_n = Window.partitionBy("doc_id")
    pref = (
        grams.join(dfreq, "gram")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count("*").over(w_n))
        .filter(F.col("rn") <= F.col("n") - F.ceil(F.lit(SETSIM_T) * F.col("n")) + 1)
    )
    prefix_only = (
        pref.select(F.col("doc_id").alias("da"), "gram")
        .join(pref.select(F.col("doc_id").alias("db"), "gram"), "gram")
        .filter(F.col("da") < F.col("db"))
        .select("da", "db")
        .distinct()
        .count()
    )
    assert len(cand) < prefix_only, (
        f"position/length filters pruned nothing: {len(cand)} vs "
        f"prefix-only {prefix_only}"
    )


def test_ngram_jaccard_prefix_filter_lossless_and_pruned(spark, sf_dir):
    """VERDICT r3 #1: the PPJoin prefix-filtered exact-Jaccard path must
    reproduce the raw shared-gram self-join's pair set EXACTLY (the prefix +
    length filters are pigeonhole-lossless, not approximations), while
    generating strictly fewer candidate pairs than the raw join."""
    from pyspark.sql import functions as F

    from apachebeam_python_spark.functions import text as T
    from apachebeam_python_spark.session import fan_out

    docs = table(spark, sf_dir, "documents")
    new = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in D.ngram_jaccard_pairs(
            docs, "text", "doc_id", shingle_n=2, threshold=0.5
        ).collect()
    }

    # the pre-round-4 naive plan, inlined as the oracle twin of the operator
    grams = fan_out(docs).select(
        "doc_id", F.explode(T.shingles(F.col("text"), 2)).alias("gram")
    )
    counts = grams.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    a, b = grams.alias("a"), grams.alias("b")
    shared = (
        a.join(b, (F.col("a.gram") == F.col("b.gram")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("shared"))
    )
    ca = counts.select(F.col("doc_id").alias("doc_a"), F.col("n_grams").alias("na"))
    cb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n_grams").alias("nb"))
    naive = (
        shared.join(ca, "doc_a")
        .join(cb, "doc_b")
        .withColumn("jaccard", F.round(F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared")), 6))
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", "jaccard")
    )
    old = {(r.doc_a, r.doc_b, r.jaccard) for r in naive.collect()}
    assert new == old, (
        f"prefix filter lost pairs: missing={sorted(old - new)[:5]} "
        f"extra={sorted(new - old)[:5]}"
    )

    pruned = D.ngram_jaccard_candidates(
        grams.localCheckpoint(eager=True), counts, 0.5
    ).count()
    raw = (
        a.join(b, (F.col("a.gram") == F.col("b.gram")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id"), F.col("b.doc_id"))
        .distinct()
        .count()
    )
    assert pruned < raw, f"prefix filter did not prune: {pruned} >= {raw}"


def test_ngram_jaccard_prefix_lossless_at_fp_adversarial_threshold(spark):
    """Round-4 review finding #3: ceil(0.07·100) floats to 8 (true 7),
    which would shorten the prefix and prune a qualifying pair; the length
    filter's 7 >= 0.07·100 comparison fails the same way. Build the exact
    adversarial shape with unigram shingles — doc A's 7 tokens all inside
    doc B's 100, J = 7/100 = threshold exactly, shared tokens made the
    most FREQUENT via filler docs (so they sort to the very END of B's
    rarity-ordered prefix and collide only at the last correct-length
    position) — and assert the prefix filter still emits the pair the
    naive join would."""
    common = [f"w{i:02d}" for i in range(7)]
    rare = [f"r{i:03d}" for i in range(93)]
    rows = [(0, " ".join(common)), (1, " ".join(common + rare))]
    rows += [(100 + i, " ".join(common)) for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    got = {
        (r.doc_a, r.doc_b)
        for r in D.ngram_jaccard_pairs(
            docs, "text", "doc_id", shingle_n=1, threshold=0.07
        ).collect()
    }
    # pair (0, 1) qualifies at exactly J = 0.07 — the FP-rounded-up ceil
    # (and the FP length filter) would have pruned it
    assert (0, 1) in got, "prefix filter pruned a qualifying boundary pair"
