"""LLM-data-pipeline queries (SURVEY.md §2.11): text analysis, dedup family,
similarity search, multimodal plumbing — the north-star operators, each
backed by ``operators.dedup`` / ``operators.similarity`` /
``operators.multimodal`` / ``functions.text``."""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as T
from ..functions import vectors as V
from ..operators import curation as C
from ..operators import dedup as D
from ..operators import multimodal as M
from ..operators import packing as P_pack
from ..operators import setops as S
from ..operators import similarity as SIM
from ..session import table
from ._registry import register


@register(
    "q_wordcount",
    oracle="""
SELECT word, count(*) AS n
FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
GROUP BY word
""",
)
def q_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE Beam hello-world: tokenize → count per word."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(T.tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )


@register(
    "q_doc_stats",
    # rotated off r9 (VERDICT r8 #1): q_wordcount keeps the text-analysis
    # family's driver slot; this stays in the local sweep
    driver=False,
    oracle="""
SELECT lang, source,
       count(*)                                   AS n_docs,
       -- CAST: DuckDB integer sum() yields HUGEINT → float64 via pandas,
       -- which hash-mismatches Spark's int64 ('123.0' vs '123') — VERDICT r1
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       round(avg(n_chars), 6)                     AS avg_chars,
       max(n_chars)                               AS max_chars
FROM documents
GROUP BY lang, source
""",
)
def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profile per (lang, source): doc/token/char statistics."""
    d = table(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum(T.token_count(F.col("text")).cast("long")).alias("total_tokens"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        F.max("n_chars").alias("max_chars"),
    )


_MARKER_SQL = {
    lang: "[" + ", ".join(f"'{m}'" for m in marks) + "]"
    for lang, marks in T.LANG_MARKERS.items()
}
_SCORES_SQL = ",\n  ".join(
    f"len(list_intersect(list_distinct(string_split(text,' ')), {lst})) AS s_{lang}"
    for lang, lst in _MARKER_SQL.items()
)
_BEST_SQL = "greatest(s_en, s_es, s_de, s_fr, s_zh)"
_PRED_SQL = (
    "CASE WHEN best = 0 THEN 'unknown' "
    "WHEN s_en = best THEN 'en' WHEN s_es = best THEN 'es' "
    "WHEN s_de = best THEN 'de' WHEN s_fr = best THEN 'fr' "
    "WHEN s_zh = best THEN 'zh' ELSE 'unknown' END"
)


@register(
    "q_fingerprint",
    driver=False,  # kept: the only caller of dedup.fingerprint_groups
    oracle="""
SELECT md5(array_to_string(string_split(text, ' ')[1:8], ' ')) AS fp,
       min(doc_id)                  AS keep_id,
       count(*)                     AS n_docs,
       array_to_string(list(doc_id ORDER BY doc_id), ',') AS doc_ids
FROM documents
GROUP BY fp
""",
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 of the 8-token prefix → cluster ids.
    doc_ids serialized to a sorted CSV string in both engines — raw array
    columns crash the driver's pandas canonicalizer (VERDICT r1 #2)."""
    out = D.fingerprint_groups(table(spark, sf_dir, "documents"), "text", "doc_id")
    return out.withColumn(
        "doc_ids", F.array_join(F.transform("doc_ids", lambda x: x.cast("string")), ",")
    )


@register(
    "q_dedup_exact",
    oracle="""
SELECT sha256(text) AS content_sha256,
       min(doc_id)  AS keep_id,
       count(*)     AS n_copies
FROM (SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id, text FROM documents WHERE doc_id < 100)
GROUP BY content_sha256
""",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by sha256(text). The fixture has no duplicate texts, so
    the input is the corpus ∪ a re-ingested slice (doc_id<100) — the classic
    double-crawl situation; 100 groups end with n_copies=2."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = S.flatten(d, d.filter(F.col("doc_id") < 100))
    return D.exact_dedup_groups(doubled, "text", "doc_id")


@register(
    "q_dedup_ngram_jaccard",
    driver=False,  # rotated off r9 (VERDICT r8 #1); stays in the local sweep
    oracle="""
WITH grams AS (
  SELECT doc_id, unnest(list_distinct(
           list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]))) AS gram
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
), counts AS (
  SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(shared / (ca.n_grams + cb.n_grams - shared), 6) AS jaccard
FROM shared
JOIN counts ca ON ca.doc_id = doc_a
JOIN counts cb ON cb.doc_id = doc_b
WHERE round(shared / (ca.n_grams + cb.n_grams - shared), 6) >= 0.5
""",
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact bigram-Jaccard near-dup pairs: PPJoin rarity-ordered prefix
    filter generates candidates (lossless pigeonhole pruning), exact
    Jaccard scores candidates only — identical rows to the raw gram
    self-join at df-bounded fan-out (VERDICT r3 #1). The oracle states the
    naive shared-gram join; losslessness is pinned in
    tests/test_dedup_scale_paths.py. For approximate-recall at lower cost
    still, minhash_lsh_pairs (q_dedup_minhash) shares the verify step."""
    return D.ngram_jaccard_pairs(
        table(spark, sf_dir, "documents"), "text", "doc_id", shingle_n=2, threshold=0.5
    )


@register("q_dedup_minhash", driver=False)  # rows-only: xxhash64 signatures aren't portable to DuckDB
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32) + LSH(8 bands) candidate pairs verified at Jaccard ≥ 0.2 —
    the scalable near-dup plan (bucket-join, no n² compare)."""
    return D.minhash_lsh_pairs(
        table(spark, sf_dir, "documents"), "text", "doc_id",
        num_hashes=32, bands=8, threshold=0.2,
    )


@register(
    "q_dedup_embedding",
    driver=False,  # demoted from the driver surface in r3 (VERDICT r2 #4):
    # the all-pairs O(n²) self-join must not be a driver-declared plan. It
    # stays here as the oracle-checked exactness anchor for the pytest
    # equivalence/recall assertions; q_embedding_pool took the slot.
    oracle="""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.35
""",
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs at τ=0.35 (fixture max sim ≈0.51 — a
    synthetic corpus threshold; 271 pairs at sf0.01). This brute-force form
    is the oracle-checked EXACTNESS ANCHOR, deliberately small-n and
    pytest-only (VERDICT r2 #4: an all-pairs self-join is not a plan to
    declare at 100 TB). The scale answer is the 'emb_lsh' arm of
    q_dedup_sketch (hyperplane-LSH buckets + the same verify expression),
    recall-asserted against this query in pytest. An LSH blocking tuned to
    empirical recall 1.0 was rejected for the driver slot: the driver
    regenerates fixtures every round, and a probabilistic blocking has no
    exactness guarantee under new data — a hash-green slot must not depend
    on one."""
    return D.embedding_neardup_pairs(
        table(spark, sf_dir, "embeddings"), "embedding", "vec_id", threshold=0.35
    )


@register(
    "q_cosine_topk",
    oracle="""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
q AS (SELECT * FROM e WHERE vec_id % 40 = 0),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_cosine_similarity(q.v, c.v) AS sim
  FROM q JOIN e c ON c.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, round(sim, 6) AS cos_sim, CAST(rn AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id) AS rn
      FROM pairs)
WHERE rn <= 5
""",
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-5 for the query set vec_id%40=0 —
    the similarity-search correctness baseline (queries broadcast, corpus
    never shuffles; ranks total-ordered by (sim DESC, neighbor_id))."""
    e = table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") % 40 == 0)
    return SIM.cosine_topk(e, queries, "embedding", "vec_id", k=5)


@register("q_ann_lsh", driver=False)  # rows-only: approximate candidates from LSH / IVF indexes; off the driver surface since r3 (VERDICT r2 #1), recall bounds asserted in pytest
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOTH classic ANN scale paths, tagged (SURVEY §2.11), each + exact
    re-rank — the 100 TB alternatives to brute force (q_cosine_topk is the
    oracle-checked exact anchor):

    - 'lsh': sign-random-projection LSH (8 tables × 4 bits ⇒ measured
      recall@5 ≈ 0.68 on the fixture; 16×4 ⇒ 0.89). Size n_bits ≈
      log2(corpus / target_bucket) as the corpus grows.
    - 'ivf': inverted-file index — deterministic centroids (one distributed
      k-means step), corpus partitioned into cells, queries probe their
      n_probe=6 nearest of 16 cells (measured recall@5 ≈ 0.75 at sf0.01,
      0.72 at sf0.001; 4 probes ⇒ 0.63 at sf0.01 but dips under 0.6 on the
      tiny sf0.001 fixture). Recall tunes with n_probe; at scale the cell id
      becomes the parquet partition key so probes prune file I/O.

    tests assert recall ≥ 0.5 (lsh) / ≥ 0.6 (ivf) vs q_cosine_topk."""
    e = table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") % 40 == 0)
    lsh = SIM.lsh_ann_topk(e, queries, "embedding", "vec_id", k=5, n_tables=8, n_bits=4)
    ivf = SIM.ivf_ann_topk(e, queries, "embedding", "vec_id", k=5, n_centroids=16, n_probe=6)
    return lsh.select(F.lit("lsh").alias("method"), "*").unionByName(
        ivf.select(F.lit("ivf").alias("method"), "*")
    )


@register(
    "q_multimodal_meta",
    oracle="""
SELECT doc_id,
       octet_length(encode(text))             AS byte_len,
       md5(text)                              AS content_md5,
       octet_length(encode(text)) % 640       AS width,
       (octet_length(encode(text)) * 7) % 480 AS height
FROM documents
""",
)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: pack text → opaque binary payload → Arrow-batched
    mapInPandas 'decode' (stub codec, operators.multimodal) extracting typed
    metadata. The oracle checks the whole binary+UDF path end-to-end."""
    d = table(spark, sf_dir, "documents")
    return M.extract_meta(M.to_binary(d, "text"), "payload", "doc_id")


@register(
    "q_corpus_curation",
    driver=False,  # rotated off r11 (wave 6) — stays oracle-backed in the local sweep
    oracle="""
WITH hashed AS (
  SELECT doc_id, text, lang, source,
         sha256(text) AS h,
         row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
  FROM (SELECT doc_id, text, lang, source FROM documents
        UNION ALL
        SELECT doc_id + 100000, text, lang, source FROM documents WHERE doc_id < 100)
), deduped AS (
  SELECT doc_id, text, lang, source FROM hashed WHERE rn = 1
), scored AS (
  SELECT doc_id, lang, source,
         len(string_split(text, ' ')) AS n_tokens,
         0.3 * (len(list_distinct(w)) / n)
       + 0.5 * (1.0 - (len(list_filter(w, x -> list_contains(['the','a','of','and','or'], x))) / n))
       + 0.2 * least(n / 100.0, 1.0) AS quality
  FROM (SELECT doc_id, lang, source, text, string_split(text, ' ') AS w,
               CAST(len(string_split(text, ' ')) AS DOUBLE) AS n
        FROM deduped)
)
SELECT lang,
       count(*)                        AS n_docs,
       CAST(sum(n_tokens) AS BIGINT)   AS total_tokens,
       round(avg(quality), 6)          AS avg_quality
FROM scored
WHERE quality >= 0.72
GROUP BY lang
""",
)
def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus curation pipeline — the operators composed
    the way a real 100 TB data pipeline chains them:

    re-crawled corpus (dups injected) → exact dedup keep-first (hash window)
    → quality scoring → threshold filter (τ=0.72 ≈ corpus median) → per-language token budget report.

    Every stage is a narrow expression or a single shuffle; the whole chain
    is one Catalyst plan (no materialization between 'steps')."""
    from pyspark.sql import Window as W

    d = table(spark, sf_dir, "documents").select("doc_id", "text", "lang", "source")
    recrawl = d.filter(F.col("doc_id") < 100).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    corpus = S.flatten(d, recrawl)
    keep_first = W.partitionBy(T.content_hash(F.col("text"))).orderBy("doc_id")
    deduped = (
        corpus.withColumn("rn", F.row_number().over(keep_first))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    scored = deduped.select(
        "doc_id", "lang", "source",
        T.token_count(F.col("text")).alias("n_tokens"),
        T.quality_score(F.col("text")).alias("quality"),
    )
    return (
        scored.filter(F.col("quality") >= 0.72)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.round(F.avg("quality"), 6).alias("avg_quality"),
        )
    )


#: Shared oracle prefix for the near-dup family: exact 2-gram Jaccard ≥ 0.5
#: pairs, symmetrized edges, and the recursive min-reachable-vertex closure.
#: q_dedup_clusters and q_dedup_canonical both build on it — one copy so the
#: two correctness authorities can never silently diverge (code-review r3).
_NEARDUP_REACH_CTES = """WITH RECURSIVE pairs AS MATERIALIZED (
  -- MATERIALIZED: the gram self-join must not re-run per closure round
  -- (the q_cycle_nodes sf1 hang class)
  WITH grams AS (
    SELECT doc_id, unnest(list_distinct(
             list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]))) AS gram
    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
  ), counts AS (
    SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id
  ), shared AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
    FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
    GROUP BY 1, 2
  )
  SELECT doc_a, doc_b FROM shared
  JOIN counts ca ON ca.doc_id = doc_a
  JOIN counts cb ON cb.doc_id = doc_b
  WHERE round(shared / (ca.n_grams + cb.n_grams - shared), 6) >= 0.5
), edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
), reach AS (
  SELECT u, u AS r FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u
)"""


@register(
    "q_dedup_clusters",
    driver=False,  # rotated off r11 (wave 6) — stays oracle-backed in the local sweep
    oracle=_NEARDUP_REACH_CTES + """
SELECT u AS doc_id, min(r) AS cluster_id FROM reach GROUP BY u
""",
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → dedup CLUSTERS (connected components, cluster id =
    min member): the iterative-algorithm capability (SURVEY §2.9 batch
    equivalent of stateful loops), label propagation with driver-side
    convergence + localCheckpoint lineage cuts. Oracle: DuckDB recursive CTE
    computing min reachable vertex — an independent algorithm agreeing on
    every component.

    The pair generator is the BUCKETED minhash-LSH path (VERDICT r1 #5 —
    round 1 fed this from the quadratic gram self-join): 64 hashes in
    32 bands of 2 rows, so a true J ≥ 0.5 pair escapes candidacy with
    probability ≤ (1 - 0.5²)^32 ≈ 1e-4, and the exact-Jaccard verify step
    makes surviving candidates identical to ngram_jaccard_pairs' output
    (tests assert LSH pairs == exact pairs at the fixture sfs, which keeps
    the recursive-CTE oracle valid)."""
    pairs = D.minhash_lsh_pairs(
        table(spark, sf_dir, "documents"), "text", "doc_id",
        shingle_n=2, num_hashes=64, bands=32, threshold=0.5,
    )
    return D.connected_components(pairs)


@register(
    "q_dedup_canonical",
    driver=False,  # §2.11 dedup pipeline tail — pytest oracle
    oracle=_NEARDUP_REACH_CTES + """, clus AS (
  SELECT u AS doc_id, min(r) AS cluster_id FROM reach GROUP BY u
), members AS (
  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id, d.n_chars
  FROM documents d LEFT JOIN clus c ON c.doc_id = d.doc_id
), surv AS (
  SELECT cluster_id, doc_id AS survivor_id
  FROM (SELECT cluster_id, doc_id,
               row_number() OVER (PARTITION BY cluster_id
                                  ORDER BY n_chars DESC, doc_id) AS rn
        FROM members)
  WHERE rn = 1
)
SELECT m.doc_id, m.cluster_id, s.survivor_id,
       m.doc_id = s.survivor_id AS kept
FROM members m JOIN surv s ON s.cluster_id = m.cluster_id
""",
)
def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's TAIL: near-dup clusters → one canonical
    SURVIVOR per cluster (longest text wins, doc_id tiebreak) → a full
    doc_id → (cluster, survivor, kept) assignment, singletons surviving as
    themselves. This is the step that turns detection into an actionable
    rewrite: filter kept=true to materialize the deduplicated corpus, or
    join survivor_id to redirect references. Completes
    q_dedup_minhash (pairs) → q_dedup_clusters (components) →
    canonical selection.

    Scale: clusters cover only docs that appear in some near-dup pair —
    a small fraction of the corpus — so the cluster table broadcasts onto
    the LEFT join with documents; survivor election is one
    WindowGroupLimit-eligible row_number over clusters (cluster-keyed,
    cluster sizes are near-dup group sizes, never corpus-scale); the
    survivor table (one row per cluster) broadcasts back. The corpus
    itself never shuffles."""
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    pairs = D.minhash_lsh_pairs(
        table(spark, sf_dir, "documents"), "text", "doc_id",
        shingle_n=2, num_hashes=64, bands=32, threshold=0.5,
    )
    clus = D.connected_components(pairs)
    members = docs.join(
        F.broadcast(clus.withColumnRenamed("cluster_id", "_cid")), "doc_id", "left"
    ).select(
        "doc_id",
        F.coalesce(F.col("_cid"), F.col("doc_id")).alias("cluster_id"),
        "n_chars",
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    surv = (
        members.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("cluster_id", F.col("doc_id").alias("survivor_id"))
    )
    return members.join(F.broadcast(surv), "cluster_id").select(
        "doc_id",
        "cluster_id",
        "survivor_id",
        (F.col("doc_id") == F.col("survivor_id")).alias("kept"),
    )


@register(
    "q_doc_features",
    driver=False,  # r7 rotation: doc-analysis family keeps q_doc_stats/q_wordcount
    oracle=f"""
WITH base AS (
  SELECT doc_id, text,
         string_split(text, ' ') AS w,
         CAST(len(string_split(text, ' ')) AS DOUBLE) AS n
  FROM documents
), feat AS (
  SELECT doc_id,
         len(w)                                     AS ws_tokens,
         len(list_distinct(w))                      AS distinct_tokens,
         len(regexp_extract_all(text, '[a-z0-9]+')) AS re_tokens,
         round(0.3 * (len(list_distinct(w)) / n)
             + 0.5 * (1.0 - (len(list_filter(w, x -> list_contains(['the','a','of','and','or'], x))) / n))
             + 0.2 * least(n / 100.0, 1.0), 6)      AS quality,
         {_SCORES_SQL},
         md5(array_to_string(w[1:8], ' '))          AS fp
  FROM base
), best AS (
  SELECT *, {_BEST_SQL} AS best FROM feat
)
SELECT doc_id, ws_tokens, distinct_tokens, re_tokens, quality,
       {_PRED_SQL} AS predicted,
       fp,
       count(*) OVER (PARTITION BY fp) AS fp_count
FROM best
""",
)
def q_doc_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text-analysis feature vector in ONE driver row (SURVEY
    §2.11; q_fingerprint keeps the grouped fingerprint clusters):
    whitespace/distinct/regex token counts, the composite quality score,
    marker-based language ID, and the 8-token-prefix fingerprint with its
    duplicate-group size via a window count. Everything is a JVM expression
    over one scan — the shape of a real corpus feature-extraction pass (one
    narrow stage + one fp-window shuffle); at 100 TB the fp_count window
    rides the same hash shuffle an exact-dedup pass needs anyway."""
    from pyspark.sql import Window as W

    d = table(spark, sf_dir, "documents")
    feat = d.select(
        "doc_id",
        T.token_count(F.col("text")).alias("ws_tokens"),
        T.distinct_token_count(F.col("text")).alias("distinct_tokens"),
        F.size(T.regex_tokens(F.col("text"))).alias("re_tokens"),
        F.round(T.quality_score(F.col("text")), 6).alias("quality"),
        T.lang_predict(F.col("text")).alias("predicted"),
        T.fingerprint(F.col("text"), 8).alias("fp"),
    )
    return feat.withColumn("fp_count", F.count("*").over(W.partitionBy("fp")))


@register("q_dedup_sketch", driver=False)  # rows-only: xxhash64-derived signatures aren't DuckDB-portable; off the driver surface since r3 (VERDICT r2 #1), equivalence proofs in pytest
def q_dedup_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three sketch/LSH near-dup SCALE paths in one tagged rows-only
    driver row (SURVEY §2.11; q_dedup_minhash's pairs plus SimHash and
    the embedding-LSH pair generator of operators.similarity):

    - 'minhash':  MinHash(32)+LSH(8 bands) candidates verified at J ≥ 0.2;
    - 'simhash':  64-bit SimHash, Hamming ≤ 12 via 4-bit pigeonhole bands;
    - 'emb_lsh':  hyperplane-LSH bucket collisions (16 tables × 4 bits —
                  τ=0.35 is a weak similarity, so recall needs the wider
                  table fan; measured recall vs brute force asserted ≥0.85
                  in tests) re-verified with exact cosine ≥ 0.35.

    Each path is bucket-shuffled (never all-pairs); their exact counterparts
    (q_dedup_ngram_jaccard, q_dedup_embedding) are the oracle-checked
    correctness anchors, and pytest asserts sketch-vs-exact recall."""
    docs = table(spark, sf_dir, "documents")
    minhash = D.minhash_lsh_pairs(
        docs, "text", "doc_id", num_hashes=32, bands=8, threshold=0.2
    ).select(
        F.lit("minhash").alias("method"),
        F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b"),
        F.col("jaccard").cast("double").alias("score"),
    )
    simhash = D.simhash_neardup_pairs(
        docs, "text", "doc_id", max_hamming=12, band_bits=4
    ).select(
        F.lit("simhash").alias("method"),
        F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b"),
        F.col("hamming").cast("double").alias("score"),
    )
    emb = table(spark, sf_dir, "embeddings")
    # r12 (VERDICT r11 #6): the pair join + dedup exchange move IDS ONLY
    # (guide §8's proxy rule — bucket collision never reads the embedding);
    # the buckets table is lazily checkpointed because the self-join would
    # otherwise recompute the 64 hyperplane-bit folds per side. Vectors
    # re-attach to the SURVIVING pairs through the size-gated broadcast
    # (row-gated, AQE shuffle-join fallback once the corpus outgrows it).
    from ..functions import vectors as V
    from ..session import bounded_rows, broadcast_if_small, checkpoint

    buckets = checkpoint(
        SIM.lsh_buckets(
            emb, "embedding", "vec_id", n_tables=16, n_bits=4,
            with_vectors=False,
        ),
        eager=False,
    )
    a = buckets.select(F.col("doc_id").alias("id_a"), "tbl", "bucket")
    b = buckets.select(F.col("doc_id").alias("id_b"), "tbl", "bucket")
    vn = emb.select(
        "vec_id", F.col("embedding").alias("v"),
        V.norm(F.col("embedding")).alias("nrm"),
    )
    va = vn.select(
        F.col("vec_id").alias("id_a"), F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    vb = vn.select(
        F.col("vec_id").alias("id_b"), F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    # va and vb project the same table: one size probe gates both sides
    n_vec = bounded_rows(vn)
    emb_lsh = (
        a.join(b, ["tbl", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
        .join(broadcast_if_small(va, known_rows=n_vec), "id_a")
        .join(broadcast_if_small(vb, known_rows=n_vec), "id_b")
        .withColumn(
            "score",
            F.round(V.safe_cosine_from(V.dot(F.col("va"), F.col("vb")), F.col("na"), F.col("nb")), 6),
        )
        .filter(F.col("score") >= 0.35)
        .select(F.lit("emb_lsh").alias("method"), "id_a", "id_b", "score")
    )
    return minhash.unionByName(simhash).unionByName(emb_lsh)


@register(
    "q_corpus_pack",
    driver=False,  # extra beyond SURVEY §2 — pytest-only, oracle-checked
    oracle="""
WITH toks AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens,
         doc_id % 8 AS pack_group
  FROM documents
), cums AS (
  SELECT doc_id, tokens, pack_group,
         CAST(sum(tokens) OVER (PARTITION BY pack_group ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM toks
)
SELECT doc_id, tokens, pack_group,
       CAST(pack_group * 1000000
            + CAST(floor((cum - tokens) / 2000.0) AS BIGINT) AS BIGINT) AS shard_id
FROM cums
""",
)
def q_corpus_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard packing (operators.packing) — the sequence-packing
    step of a pretraining-data pipeline: every document assigned to a shard
    of ≈2000 tokens within its pack group. Boundary-split (window) variant,
    hash-grouped by doc_id % 8 so the DuckDB oracle can mirror the grouping;
    the exact greedy variant is property-tested in
    tests/test_packing.py."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", T.token_count(F.col("text")).cast("long").alias("tokens")
    )
    return P_pack.pack_shards_window(
        d, "tokens", "doc_id", budget=2000, num_groups=8,
        group_expr=(F.col("doc_id") % 8),
    )


@register(
    "q_decontaminate",
    driver=False,  # extra beyond SURVEY §2 — pytest-only, oracle-checked
    oracle="""
WITH toks AS (
  SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
), g AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]
         ))) AS gram
  FROM toks
), bench AS (
  SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0
), contam AS (
  SELECT DISTINCT doc_id FROM g
  WHERE doc_id % 50 <> 0 AND gram IN (SELECT gram FROM bench)
)
SELECT d.source,
       count(*) AS n_docs,
       CAST(count(c.doc_id) AS BIGINT) AS n_contaminated,
       CAST(count(*) - count(c.doc_id) AS BIGINT) AS n_clean
FROM documents d LEFT JOIN contam c USING (doc_id)
WHERE d.doc_id % 50 <> 0
GROUP BY d.source
""",
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators.curation): docs sharing any
    trigram with the held-out 'benchmark' slice (doc_id % 50 == 0) are
    flagged; output = per-source contamination census. The benchmark gram
    set broadcasts; corpus text never shuffles."""
    d = table(spark, sf_dir, "documents")
    bench = d.filter(F.pmod(F.col("doc_id"), F.lit(50)) == 0)
    corpus = d.filter(F.pmod(F.col("doc_id"), F.lit(50)) != 0)
    flags = C.contamination_flags(corpus, bench, "text", "doc_id", n=3)
    return (
        corpus.join(flags, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("n_shared_grams").isNotNull().cast("long")).alias("n_contaminated"),
            F.sum(F.col("n_shared_grams").isNull().cast("long")).alias("n_clean"),
        )
    )


@register(
    "q_repetition_filter",
    driver=False,  # extra beyond SURVEY §2 — pytest-only, oracle-checked
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), g AS (
  SELECT doc_id, unnest(list_transform(
           range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS gram
  FROM toks
), pc AS (
  SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2
), st AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS total_grams,
         count(*) AS distinct_grams,
         max(c) AS top_count
  FROM pc GROUP BY 1
), m AS (
  SELECT d.doc_id,
         COALESCE(total_grams, 0) AS total_grams,
         COALESCE(distinct_grams, 0) AS distinct_grams,
         COALESCE(round(1 - distinct_grams / CAST(total_grams AS DOUBLE), 6), 0.0) AS dup_frac,
         COALESCE(round(top_count / CAST(total_grams AS DOUBLE), 6), 0.0) AS top_frac
  FROM documents d LEFT JOIN st USING (doc_id)
)
SELECT doc_id, total_grams, distinct_grams, dup_frac, top_frac,
       CASE WHEN dup_frac <= 0.05 AND top_frac <= 0.10 THEN 1 ELSE 0 END AS keep
FROM m
""",
)
def q_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repetition filters (operators.curation):
    duplicate-bigram fraction + top-bigram fraction per doc, with the keep
    decision made on the ROUNDED values both engines emit (parity rule)."""
    d = table(spark, sf_dir, "documents")
    m = C.repetition_metrics(d, "text", "doc_id", n=2)
    return m.withColumn(
        "keep",
        ((F.col("dup_frac") <= 0.05) & (F.col("top_frac") <= 0.10)).cast("int"),
    )


@register(
    "q_mixture_resample",
    driver=False,  # extra beyond SURVEY §2 — pytest-only, oracle-checked
    oracle="""
WITH f AS (
  SELECT source, doc_id, CAST(substr(source, 4) AS BIGINT) AS idx
  FROM documents
), k AS (
  SELECT source, idx,
         CASE WHEN doc_id % 100 < (100 - 4 * idx) THEN 1 ELSE 0 END AS keep
  FROM f
)
SELECT source,
       count(*) AS n_total,
       CAST(sum(keep) AS BIGINT) AS n_kept,
       round((100 - 4 * idx) / 100.0, 2) AS target_rate,
       round(CAST(sum(keep) AS DOUBLE) / count(*), 6) AS actual_rate
FROM k
GROUP BY source, idx
""",
)
def q_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain-mixture resampling (operators.curation): each
    source srcN keeps (100-4N)% of its docs via a pure id-modulo filter —
    reproducible, RNG-free, zero-shuffle. Output = per-source census of
    target vs achieved rate."""
    d = table(spark, sf_dir, "documents")
    rates = {f"src{i}": (100 - 4 * i) / 100.0 for i in range(20)}
    flags = C.mixture_flags(d, "source", "doc_id", rates, modulus=100)
    idx = F.expr("CAST(substring(source, 4) AS BIGINT)")
    return flags.groupBy("source").agg(
        F.count("*").alias("n_total"),
        F.sum("keep").cast("long").alias("n_kept"),
        F.round((F.lit(100) - 4 * F.first(idx)) / 100.0, 2).alias("target_rate"),
        F.round(F.sum("keep") / F.count("*"), 6).alias("actual_rate"),
    )


@register(
    "q_k_anonymity",
    driver=True,  # §2.11 privacy audit — rotated in r11 (wave 6)
    oracle="""
SELECT c_nationkey, c_mktsegment,
       CAST(count(*) AS BIGINT)                    AS class_size,
       CAST(count(DISTINCT c_acctbal) AS BIGINT)   AS l_diversity
FROM customer
GROUP BY c_nationkey, c_mktsegment
HAVING count(*) < 8 OR count(DISTINCT c_acctbal) = 1
""",
)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity privacy audit
    (operators/curation.k_anonymity_report): equivalence classes over the
    quasi-identifiers (nation, market segment) with fewer than k=8
    members — linkage-re-identifiable — or whose sensitive attribute
    (account balance) has a single distinct value (attribute disclosure
    even at k). The pre-release gate before user-derived data enters a
    training corpus; the violating classes are the suppression/
    generalization worklist.

    Scale: one partial+final hash agg on the QI key; output is bounded by
    violating classes, not table size (scale note in the operator)."""
    from ..operators.curation import k_anonymity_report

    return k_anonymity_report(
        table(spark, sf_dir, "customer"),
        ["c_nationkey", "c_mktsegment"],
        k=8,
        sensitive_col="c_acctbal",
    )


@register(
    "q_pii_scrub",
    driver=False,  # extra beyond SURVEY §2 — pytest-only, oracle-checked
    oracle=r"""
WITH injected AS (
  SELECT doc_id,
         text || ' contact user' || doc_id || '@example.com or +1-555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(text, '[a-z0-9._]+@[a-z0-9.-]+\.[a-z]+')) AS n_email,
       len(regexp_extract_all(text, '\+?[0-9]+(-[0-9]+)+')) AS n_phone,
       regexp_replace(regexp_replace(text,
         '[a-z0-9._]+@[a-z0-9.-]+\.[a-z]+', '<EMAIL>', 'g'),
         '\+?[0-9]+(-[0-9]+)+', '<PHONE>', 'g') AS scrubbed
FROM injected
""",
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (functions.text.scrub_pii): per-category match counts
    + scrubbed text. The fixture corpus contains no real PII, so each doc
    gets a deterministic synthetic email+phone suffix first (mechanism
    demo, like lang-ID); patterns stay in the Java∩RE2 regex subset so
    both engines replace identically. Pure codegen projection — the scrub
    pass over 100 TB is scan-bound, zero shuffles."""
    d = table(spark, sf_dir, "documents")
    injected = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-555-"),
            F.lpad(F.pmod(F.col("doc_id"), F.lit(10000)).cast("string"), 4, "0"),
        ).alias("text"),
    )
    counts = T.pii_counts(F.col("text"))
    return injected.select(
        "doc_id",
        counts["email"].alias("n_email"),
        counts["phone"].alias("n_phone"),
        T.scrub_pii(F.col("text")).alias("scrubbed"),
    )


@register(
    "q_doc_chunks",
    driver=False,  # extra beyond SURVEY §2 — pytest-only, oracle-checked
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
)
SELECT doc_id,
       unnest(range(1, len(w) + 1, 48))                       AS chunk_start,
       len(w[unnest(range(1, len(w) + 1, 48)):
             unnest(range(1, len(w) + 1, 48)) + 63])          AS chunk_len,
       array_to_string(w[unnest(range(1, len(w) + 1, 48)):
             unnest(range(1, len(w) + 1, 48)) + 63], ' ')     AS chunk_text
FROM toks
""",
)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking (operators.curation.chunk_documents): 64-token
    windows at stride 48 (16-token overlap) — the long-doc → training-
    sequence step; every chunk row is derived with zero shuffles."""
    d = table(spark, sf_dir, "documents")
    return C.chunk_documents(d, "text", "doc_id", chunk_tokens=64, stride=48)


@register(
    "q_repeated_passages",
    driver=False,  # extra §2.11 curation proof — pytest-only
    oracle="""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
spans AS (
  SELECT doc_id, array_to_string(list_slice(w, s + 1, s + 8), ' ') AS span
  FROM toks, unnest(range(0, len(w) - 8 + 1, 4)) AS t(s)
  WHERE len(w) >= 8
),
pairs AS (SELECT span, doc_id, count(*) AS c FROM spans GROUP BY 1, 2)
SELECT span, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(c) AS BIGINT) AS n_occurrences
FROM pairs GROUP BY span HAVING count(*) >= 2
""",
)
def q_repeated_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-passage census (operators.curation
    .repeated_passages): 8-token windows at stride 4, spans shared by ≥2
    documents — catches boilerplate/template text that document-level
    dedup (q_dedup_exact/minhash) cannot see. Scale shape in the operator
    docstring: bounded explode, two-stage pair aggregate, no sets."""
    from ..operators.curation import repeated_passages

    d = table(spark, sf_dir, "documents")
    return repeated_passages(d, "text", "doc_id", n=8, stride=4, min_docs=2)


#: CMS geometry: 4 hash rows × 2048 buckets. Hashes are md5 slices so both
#: engines (and any future one) compute byte-identical sketches.
_CMS_DEPTH, _CMS_WIDTH = 4, 2048


def _cms_buckets(m: Column) -> Column:
    """Array of per-depth bucket ids from an md5-hex column: depth i reads
    hex chars [1+4i, 4+4i) as a 16-bit int, mod width. Portable arithmetic
    (no engine-private hash), pure codegen in Spark."""
    return F.array(
        *[
            F.pmod(
                F.conv(F.substring(m, 1 + 4 * i, 4), 16, 10).cast("long"),
                F.lit(_CMS_WIDTH),
            )
            for i in range(_CMS_DEPTH)
        ]
    )


@register(
    "q_heavy_hitters",
    driver=False,  # extra §2.11 sketch proof — pytest-only
    oracle=f"""
WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
hb AS (
  SELECT tok, d,
    ((strpos('0123456789abcdef', substr(md5(tok), 1+4*d, 1))-1)*4096
    +(strpos('0123456789abcdef', substr(md5(tok), 2+4*d, 1))-1)*256
    +(strpos('0123456789abcdef', substr(md5(tok), 3+4*d, 1))-1)*16
    +(strpos('0123456789abcdef', substr(md5(tok), 4+4*d, 1))-1)) % {_CMS_WIDTH}
      AS bucket
  FROM toks, (SELECT unnest(range({_CMS_DEPTH})) AS d) dd
),
counters AS (SELECT d, bucket, count(*) AS cnt FROM hb GROUP BY d, bucket),
top AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS n,
         row_number() OVER (ORDER BY count(*) DESC, tok) AS rn
  FROM toks GROUP BY tok
),
tb AS (
  SELECT t.tok, t.n, hb2.d, hb2.bucket
  FROM (SELECT tok, n FROM top WHERE rn <= 10) t
  JOIN (SELECT DISTINCT tok, d, bucket FROM hb) hb2 USING (tok)
)
SELECT tb.tok, tb.n, CAST(min(c.cnt) AS BIGINT) AS est,
       min(c.cnt) >= tb.n AS est_valid
FROM tb JOIN counters c ON c.d = tb.d AND c.bucket = tb.bucket
GROUP BY tb.tok, tb.n
""",
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter detection with a pure-SQL count-min sketch (the mergeable
    frequency sibling of q_hll_rollup's cardinality sketch). The sketch is a
    (depth × width) counter table built by ONE hash aggregate over exploded
    tokens — per-partition partial counters merged by summation, so estimates
    are independent of partitioning — and point estimates are min-over-depth
    reads joined against the exact top-10, all DataFrame-side (no collect).
    Hashing is md5-slice arithmetic, identical in Spark and DuckDB, so the
    oracle replays the ENTIRE sketch and checks estimate VALUES, not just the
    CMS guarantee (est_valid: estimate ≥ true count, which must hold for
    every row). Replaces the round-2 private py4j countMinSketch reach
    (VERDICT r2 #3) — no non-public API, same semantics.
    At 100 TB: one narrow explode + one 8192-cell sketch aggregate; the
    exact top-10 side is TakeOrderedAndProject over the vocabulary."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(F.explode(T.tokens(F.col("text"))).alias("tok"))
    buckets = _cms_buckets(F.md5("tok"))
    counters = (
        toks.select(F.posexplode(buckets).alias("depth", "bucket"))
        .groupBy("depth", "bucket")
        .agg(F.count("*").alias("cnt"))
    )
    top = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok"))
        .limit(10)
        .select("tok", "n", F.posexplode(buckets).alias("depth", "bucket"))
    )
    return (
        top.join(counters, ["depth", "bucket"])
        .groupBy("tok", "n")
        .agg(F.min("cnt").alias("est"))
        .select("tok", "n", "est", (F.col("est") >= F.col("n")).alias("est_valid"))
    )


@register(
    "q_image_pipeline",
    driver=False,  # extra §2.11 multimodal proof — pytest-only
    oracle="""
WITH dims AS (
  SELECT doc_id,
         8 + doc_id % 16 AS w,
         8 + doc_id % 12 AS h
  FROM documents
),
thumb AS (
  SELECT doc_id, w, h,
         (doc_id + ((yy * h) // 8) * w * 3 + ((xx * w) // 8) * 3 + 0) % 256 AS r,
         (doc_id + ((yy * h) // 8) * w * 3 + ((xx * w) // 8) * 3 + 1) % 256 AS g,
         (doc_id + ((yy * h) // 8) * w * 3 + ((xx * w) // 8) * 3 + 2) % 256 AS b
  FROM dims, unnest(range(8)) ty(yy), unnest(range(8)) tx(xx)
)
SELECT doc_id,
       CAST(w AS INTEGER)        AS width,
       CAST(h AS INTEGER)        AS height,
       CASE doc_id % 3
         WHEN 0 THEN 9 + h * w * 3
         WHEN 1 THEN 9 + length(CAST(w AS VARCHAR)) + length(CAST(h AS VARCHAR)) + h * w * 3
         ELSE 54 + h * (((w * 3 + 3) // 4) * 4)
       END                       AS byte_len,
       round(avg(r), 4)          AS mean_r,
       round(avg(g), 4)          AS mean_g,
       round(avg(b), 4)          AS mean_b
FROM thumb GROUP BY doc_id, w, h
""",
)
def q_image_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode→resize→featurize, END TO END REAL (operators.
    multimodal): per-doc payloads synthesized in a RAWI/PPM/BMP format mix
    (doc_id % 3), decoded by the real format-sniffing parsers (pure-Python
    PPM and 24-bpp BMP since round 3 — VERDICT r2 #5),
    nearest-neighbour-resized to an 8×8 thumbnail, per-channel means — all
    inside Arrow-batched mapInPandas. Pixel content is closed-form in
    doc_id, so the WHOLE pipeline (header fields, per-format byte length
    incl. BMP row padding, thumbnail means) is checked by a DuckDB oracle
    that recomputes the same pixels arithmetically — the decode path cannot
    silently skew. Swap decode_image for Pillow for compressed formats and
    this plan is the production one."""
    from ..operators.multimodal import image_features, synth_images

    d = table(spark, sf_dir, "documents").select("doc_id")
    return image_features(synth_images(d))


@register("q_kmeans", driver=False)  # rows-only: float centroid sums aren't SQL-replayable
def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means cluster-quality report (SURVEY §2.11 similarity /
    semantic-dedup substrate): k=10 over the embeddings table, 6 Lloyd
    iterations. Assignment is a narrow zero-shuffle pass (centroids are
    literal metadata); each update is ONE partial-agg shuffle of
    O(partitions × k × dim) rows — see operators/clustering.py for the
    100 TB story. Rows-only by design: the objective (inertia strictly
    decreasing, NumPy-reference agreement, exact blob recovery) is pinned in
    tests/test_clustering.py, which a SQL oracle could not express."""
    from ..operators import clustering as CL

    e = table(spark, sf_dir, "embeddings")
    out = CL.kmeans_summary(e, "embedding", "vec_id", 10, n_iter=6)
    return out.select(
        "cluster", "n_vectors", F.round("inertia", 2).alias("inertia")
    )


@register("q_semantic_dedup", driver=False)  # rows-only: depends on k-means centroids
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic dedup: k-means (k=10) partitions the
    embedding space, then exact-cosine near-dup pairs are generated ONLY
    within clusters (O(Σ cluster²), not O(n²)) and the smallest id per
    near-dup group survives. Per-cluster keep/drop census; the within-
    cluster pair set is recall-checked against the brute-force
    q_dedup_embedding anchor in tests/test_clustering.py."""
    from ..operators import clustering as CL

    e = table(spark, sf_dir, "embeddings")
    out = CL.semantic_dedup(e, "embedding", "vec_id", k=10, threshold=0.35, n_iter=6)
    return (
        out.groupBy("cluster")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            F.sum((~F.col("keep")).cast("long")).alias("n_dropped"),
        )
        .orderBy("cluster")
    )


@register(
    "q_dedup_incremental",
    driver=False,  # extra §2.11 dedup proof — pytest-only oracle
    oracle="""
WITH batch AS (
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 150
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, 'v2 ' || text AS text
  FROM documents WHERE doc_id % 7 = 0
)
SELECT b.doc_id, sha256(b.text) AS content_sha256
FROM batch b
WHERE NOT EXISTS (SELECT 1 FROM documents s WHERE sha256(s.text) = sha256(b.text))
""",
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (cross-snapshot) dedup — dedupe an ingest batch against
    the accumulated corpus, not just itself (the continuous-crawl shape).
    The batch is a re-crawl of doc_id<150 (same text, new ids — must ALL be
    dropped) plus edited 'v2' versions of every 7th doc (genuinely new —
    must ALL survive). LEFT ANTI join on sha256; see
    operators/dedup.incremental_new_rows for the bucketed-snapshot and
    runtime-bloom 100 TB notes."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    batch = S.flatten(
        d.filter(F.col("doc_id") < 150).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
        ),
        d.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 2_000_000).alias("doc_id"),
            F.concat(F.lit("v2 "), F.col("text")).alias("text"),
        ),
    )
    return D.incremental_new_rows(batch, d, "text").select("doc_id", "content_sha256")


@register(
    "q_embedding_quantize",
    driver=False,  # extra §2.11 embedding-storage proof — pytest-only oracle
    oracle="""
WITH q AS (
  SELECT vec_id,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), r AS (
  SELECT vec_id, scale,
         CASE WHEN scale > 0 THEN
           list_max(list_transform(v, x -> abs(x - floor(x / scale + 0.5) * scale)))
         ELSE 0.0 END AS max_err
  FROM q
)
SELECT CAST(vec_id % 8 AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT)   AS n_vectors,
       round(avg(scale), 6)       AS avg_scale,
       round(avg(max_err), 6)     AS avg_max_err,
       round(max(max_err), 6)     AS worst_err
FROM r GROUP BY 1
""",
)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization (4× storage cut for ANN
    shortlists): per-vector scale = max|x|/127, quantized values in
    [-127, 127], reconstruction error ≤ scale/2 by construction — the
    report's worst_err column proves the bound. Rounding is an explicit
    floor(x/s + 0.5) in BOTH engines (Spark round and DuckDB round disagree
    on negative halves). Fully narrow: zero shuffles except the final
    8-bucket report agg."""
    e = table(spark, sf_dir, "embeddings")
    q = e.select(
        "vec_id", "embedding", V.quantize_scale(F.col("embedding")).alias("scale")
    ).select(
        "vec_id",
        "embedding",
        "scale",
        V.quantize_int8(F.col("embedding"), F.col("scale")).alias("qv"),
    )
    err = F.array_max(
        F.zip_with(
            F.col("embedding"),
            V.dequantize(F.col("qv"), F.col("scale")),
            lambda x, r: F.abs(x.cast("double") - r),
        )
    )
    return (
        q.withColumn("max_err", F.when(F.col("scale") > 0, err).otherwise(F.lit(0.0)))
        .groupBy((F.col("vec_id") % 8).alias("bucket"))
        .agg(
            F.count("*").alias("n_vectors"),
            F.round(F.avg("scale"), 6).alias("avg_scale"),
            F.round(F.avg("max_err"), 6).alias("avg_max_err"),
            F.round(F.max("max_err"), 6).alias("worst_err"),
        )
    )


@register(
    "q_bm25",  # driver slot r3-r10; rotated off r11 (wave 6)
    driver=False,  # rotated off r11 (wave 6) — stays oracle-backed in the local sweep
    oracle="""
WITH toks AS (
  SELECT doc_id AS doc, unnest(string_split(text, ' ')) AS term FROM documents
), dl AS (
  SELECT doc, count(*) AS dl FROM toks GROUP BY doc
), consts AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl
), tf AS (
  SELECT doc, term, count(*) AS tf FROM toks
  WHERE term IN ('hash', 'join', 'scan', 'window') GROUP BY doc, term
), df_ AS (
  SELECT term, CAST(count(DISTINCT doc) AS DOUBLE) AS df FROM tf GROUP BY term
), scored AS (
  SELECT tf.doc,
         ln(1.0 + (c.n_docs - df_.df + 0.5) / (df_.df + 0.5))
         * (tf.tf * 2.2) / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / c.avgdl))
           AS contrib
  FROM tf JOIN dl USING (doc) JOIN df_ USING (term) CROSS JOIN consts c
), per_doc AS (
  SELECT doc, round(sum(contrib), 6) AS score FROM scored GROUP BY doc
)
SELECT doc AS doc_id, score,
       CAST(row_number() OVER (ORDER BY score DESC, doc) AS INTEGER) AS rank
FROM per_doc ORDER BY score DESC, doc LIMIT 10
""",
)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 for the query {hash, join, scan, window} — lexical
    retrieval next to the embedding similarity family (hybrid search /
    decontamination-by-query both need it). Scores round to 6 dp BEFORE
    ranking with a doc-id tiebreak, so the order is a total order both
    engines agree on; see operators/retrieval.py for the inverted-index
    100 TB shape."""
    from ..operators.retrieval import bm25_topk

    return bm25_topk(
        table(spark, sf_dir, "documents"),
        ["hash", "join", "scan", "window"],
        "text",
        "doc_id",
        k=10,
    )


@register(
    "q_hybrid_search",
    driver=True,  # extra §2.11 retrieval proof — rotated in r11 (wave 6)
    oracle="""
WITH toks AS (
  SELECT doc_id AS doc, unnest(string_split(text, ' ')) AS term FROM documents
), dl AS (
  SELECT doc, count(*) AS dl FROM toks GROUP BY doc
), consts AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl
), tf AS (
  SELECT doc, term, count(*) AS tf FROM toks
  WHERE term IN ('hash', 'join', 'scan') GROUP BY doc, term
), df_ AS (
  SELECT term, CAST(count(DISTINCT doc) AS DOUBLE) AS df FROM tf GROUP BY term
), bm AS (
  SELECT doc, round(sum(
           ln(1.0 + (c.n_docs - df_.df + 0.5) / (df_.df + 0.5))
           * (tf.tf * 2.2) / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / c.avgdl))
         ), 6) AS score
  FROM tf JOIN dl USING (doc) JOIN df_ USING (term) CROSS JOIN consts c
  GROUP BY doc
), bm_rank AS (
  SELECT doc AS id, row_number() OVER (ORDER BY score DESC, doc) AS r
  FROM bm ORDER BY score DESC, doc LIMIT 20
), e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), qv AS (SELECT v FROM e WHERE vec_id = 0
), cos_rank AS (
  SELECT vec_id AS id,
         row_number() OVER (
           ORDER BY list_cosine_similarity(e.v, qv.v) DESC, vec_id) AS r
  FROM e CROSS JOIN qv WHERE vec_id <> 0
  ORDER BY list_cosine_similarity(e.v, qv.v) DESC, vec_id LIMIT 20
), fused AS (
  SELECT coalesce(b.id, c.id) AS id,
         round(coalesce(1.0 / (60 + b.r), 0) + coalesce(1.0 / (60 + c.r), 0), 6)
           AS rrf
  FROM bm_rank b FULL OUTER JOIN cos_rank c ON b.id = c.id
)
SELECT id AS doc_id, rrf,
       CAST(row_number() OVER (ORDER BY rrf DESC, id) AS INTEGER) AS rank
FROM fused ORDER BY rrf DESC, id LIMIT 10
""",
)
def q_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion (k=60) of the BM25 lexical
    list and the exact-cosine vector list over the aligned doc/vec id space
    — the standard two-tower composition every retrieval corpus pipeline
    ships. Pure rank arithmetic on two already-proven operators: ranks are
    ints, so both engines fuse identically; round-then-rank total order.
    At scale each arm is independently index-backed (inverted index /
    IVF-LSH) and the fusion join touches ≤ 2k rows per query."""
    from ..operators.retrieval import bm25_topk

    docs = table(spark, sf_dir, "documents")
    emb = table(spark, sf_dir, "embeddings")
    bm = bm25_topk(docs, ["hash", "join", "scan"], "text", "doc_id", k=20).select(
        F.col("doc_id").alias("id"), F.col("rank").alias("r_bm")
    )
    qvec = emb.filter(F.col("vec_id") == 0)
    cos = SIM.cosine_topk(emb, qvec, "embedding", "vec_id", k=20).select(
        F.col("neighbor_id").alias("id"), F.col("rank").alias("r_cos")
    )
    fused = (
        bm.join(cos, "id", "full_outer")
        .withColumn(
            "rrf",
            F.round(
                F.coalesce(1.0 / (60 + F.col("r_bm")), F.lit(0.0))
                + F.coalesce(1.0 / (60 + F.col("r_cos")), F.lit(0.0)),
                6,
            ),
        )
    )
    from pyspark.sql import Window as W

    top = fused.orderBy(F.col("rrf").desc(), F.col("id")).limit(10)
    return top.select(
        F.col("id").alias("doc_id"),
        "rrf",
        F.row_number().over(W.orderBy(F.col("rrf").desc(), F.col("id"))).alias("rank"),
    )


@register(
    "q_mixture_diagnostics",
    driver=False,  # extra §2.11 curation proof — pytest-only oracle
    oracle="""
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
), sc AS (
  SELECT source, term, CAST(count(*) AS DOUBLE) AS c FROM toks GROUP BY 1, 2
), st AS (
  SELECT source, sum(c) AS n FROM sc GROUP BY source
), ct AS (
  SELECT term, sum(c) AS cc FROM sc GROUP BY term
), tot AS (
  SELECT sum(cc) AS t FROM ct
)
SELECT sc.source,
       CAST(st.n AS BIGINT)                                    AS n_tokens,
       round(-sum((sc.c / st.n) * log2(sc.c / st.n)), 6)       AS entropy_bits,
       round(sum((sc.c / st.n) * log2((sc.c / st.n) / (ct.cc / tot.t))), 6)
                                                               AS kl_vs_corpus
FROM sc JOIN st USING (source) JOIN ct USING (term) CROSS JOIN tot
GROUP BY sc.source, st.n
""",
)
def q_mixture_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture diagnostics per source: token-distribution entropy and
    KL(source ‖ corpus) — the drift report a mixture-resampling pipeline
    watches (a source whose KL jumps changed its content mix). One
    explode → (source, term) count, then broadcast-joined marginals; all
    log arithmetic JVM-side; sums round to 6 dp in both engines."""
    toks = table(spark, sf_dir, "documents").select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    sc = toks.groupBy("source", "term").agg(F.count("*").cast("double").alias("c"))
    st = sc.groupBy("source").agg(F.sum("c").alias("n"))
    ct = sc.groupBy("term").agg(F.sum("c").alias("cc"))
    tot = ct.agg(F.sum("cc").alias("t"))
    p = F.col("c") / F.col("n")
    q = F.col("cc") / F.col("t")
    return (
        sc.join(F.broadcast(st), "source")
        .join(F.broadcast(ct), "term")
        .crossJoin(F.broadcast(tot))
        .groupBy("source", "n")
        .agg(
            F.round(-F.sum(p * F.log2(p)), 6).alias("entropy_bits"),
            F.round(F.sum(p * F.log2(p / q)), 6).alias("kl_vs_corpus"),
        )
        .select(
            "source",
            F.col("n").cast("long").alias("n_tokens"),
            "entropy_bits",
            "kl_vs_corpus",
        )
    )


@register(
    "q_fuzzy_match",
    driver=False,  # extra §2.11 record-linkage proof — pytest-only oracle
    oracle="""
WITH b AS (
  SELECT c_custkey, c_name, substr(c_name, 1, 15) AS blk FROM customer
)
SELECT dist, CAST(count(*) AS BIGINT) AS n_pairs
FROM (
  SELECT levenshtein(a.c_name, c.c_name) AS dist
  FROM b a JOIN b c ON a.blk = c.blk AND a.c_custkey < c.c_custkey
  WHERE abs(len(a.c_name) - len(c.c_name)) <= 2
    AND levenshtein(a.c_name, c.c_name) <= 2
)
GROUP BY dist
""",
)
def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (edit-distance) matching census over customer names: pairs at
    Levenshtein ≤ 2 within prefix blocks, counted per distance. Spark uses
    the THRESHOLDED levenshtein (early exit, -1 past the bound) — same pair
    set as DuckDB's unbounded form filtered to ≤ 2; blocking keeps the
    candidate join O(Σ block²). See operators/dedup.fuzzy_pairs."""
    out = D.fuzzy_pairs(
        table(spark, sf_dir, "customer"), "c_name", "c_custkey", max_dist=2
    )
    return out.groupBy("dist").agg(F.count("*").alias("n_pairs"))


@register("q_weighted_sample", driver=False)  # rows-only: xxhash64 uniforms aren't DuckDB-portable
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted corpus subsample (SURVEY §2.3 Sample family +
    §2.11 curation): 50 documents drawn without replacement with inclusion
    probability ∝ quality score — the standard "sample the best-ish, keep
    diversity" curation draw, deterministic across runs and partition
    layouts (hash-derived uniforms, Efraimidis-Spirakis keys; exact Python
    replay asserted in tests/test_operators.py)."""
    from ..operators.aggregations import weighted_sample

    d = table(spark, sf_dir, "documents").withColumn(
        "quality", F.round(T.quality_score(F.col("text")), 6)
    )
    return weighted_sample(d, "quality", "doc_id", 50).select(
        "doc_id", "quality"
    )


@register(
    "q_novelty",
    driver=False,  # extra §2.11 curation proof — pytest-only oracle
    oracle="""
WITH snap AS (
  SELECT DISTINCT unnest(list_distinct(
           list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]))) AS gram
  FROM (SELECT string_split(text, ' ') AS w FROM documents WHERE doc_id % 4 <> 0)
), batch AS (
  SELECT doc_id, unnest(list_distinct(
           list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]))) AS gram
  FROM (SELECT doc_id, string_split(text, ' ') AS w
        FROM documents WHERE doc_id % 4 = 0)
)
SELECT b.doc_id,
       CAST(count(*) AS BIGINT)                          AS n_grams,
       CAST(sum(CASE WHEN s.gram IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                                                         AS n_novel,
       round(sum(CASE WHEN s.gram IS NULL THEN 1 ELSE 0 END) / count(*), 6)
                                                         AS novelty
FROM batch b LEFT JOIN snap s ON b.gram = s.gram
GROUP BY b.doc_id
""",
)
def q_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram novelty of an ingest batch (doc_id%4=0) against the rest of
    the corpus as the accumulated snapshot — ranks new crawls by how much
    unseen content they add (operators.curation.novelty_scores; the
    snapshot's distinct-gram table is the same artifact decontamination
    broadcasts)."""
    d = table(spark, sf_dir, "documents")
    return C.novelty_scores(
        d.filter(F.col("doc_id") % 4 == 0),
        d.filter(F.col("doc_id") % 4 != 0),
        "text",
        "doc_id",
        n=2,
    )


@register(
    "q_quality_filter",
    driver=False,  # extra §2.11 curation proof — pytest-only oracle
    oracle="""
WITH scored AS (
  SELECT doc_id,
         round(0.3 * (len(list_distinct(w)) / n)
             + 0.5 * (1.0 - (len(list_filter(w, x -> list_contains(['the','a','of','and','or'], x))) / n))
             + 0.2 * least(n / 100.0, 1.0), 6) AS q
  FROM (SELECT doc_id, string_split(text, ' ') AS w,
               CAST(len(string_split(text, ' ')) AS DOUBLE) AS n
        FROM documents)
), thr AS (SELECT round(quantile_cont(q, 0.25), 6) AS p25 FROM scored)
SELECT CAST(count(*) FILTER (WHERE q >= p25) AS BIGINT) AS n_kept,
       CAST(count(*) FILTER (WHERE q <  p25) AS BIGINT) AS n_dropped,
       round(min(CASE WHEN q >= p25 THEN q END), 6)     AS min_kept_quality,
       p25
FROM scored CROSS JOIN thr
GROUP BY p25
""",
)
def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-threshold quality gate: score every document, find the
    corpus p25 (exact interpolated percentile — one tiny scalar), keep the
    top three quartiles. The threshold is a 1-row broadcast cross join, so
    the filter stays a narrow pass over the corpus; at 100 TB swap the
    exact percentile for the approx sketch (q_approx_sample family) — the
    report shape is unchanged."""
    d = table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id", F.round(T.quality_score(F.col("text")), 6).alias("q")
    )
    thr = scored.agg(F.round(F.percentile("q", F.lit(0.25)), 6).alias("p25"))
    joined = scored.crossJoin(F.broadcast(thr))
    return joined.groupBy("p25").agg(
        F.sum((F.col("q") >= F.col("p25")).cast("long")).alias("n_kept"),
        F.sum((F.col("q") < F.col("p25")).cast("long")).alias("n_dropped"),
        F.round(F.min(F.when(F.col("q") >= F.col("p25"), F.col("q"))), 6).alias(
            "min_kept_quality"
        ),
    ).select("n_kept", "n_dropped", "min_kept_quality", "p25")


@register(
    "q_embedding_pool",  # r3 slot for q_dedup_embedding (VERDICT r2 #4)
    driver=False,  # rotated off r8: embedding family keeps q_cosine_topk + q_item_cf
    oracle="""
WITH x AS (
  SELECT vec_id // 50 AS doc,
         generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
), m AS (
  -- + 0.0 folds IEEE -0.0 to +0.0; DECIMAL(9,6) forces fixed-point text
  -- (doubles stringify scientifically for small magnitudes in Spark)
  SELECT doc, pos, CAST(round(avg(v), 6) + 0.0 AS DECIMAL(9,6)) AS mv
  FROM x GROUP BY doc, pos
)
SELECT doc,
       CAST(count(*) AS BIGINT) AS dim,
       array_to_string(list(CAST(mv AS VARCHAR) ORDER BY pos), ',') AS pooled
FROM m GROUP BY doc
""",
)
def q_embedding_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-pool chunk embeddings into document embeddings (every 50
    consecutive vec_ids = one 'document') — the standard chunk→doc pooling
    step of an embedding pipeline. Element-wise mean via posexplode + one
    (doc, dim)-keyed partial-agg shuffle — never collects a group's vectors
    into one row — then the pooled vector rebuilds ordered by position.
    Serialized to CSV in both engines (raw arrays crash the driver canon);
    per-dimension rounds at 6 dp bury the partial-sum ulp."""
    e = table(spark, sf_dir, "embeddings")
    exploded = e.select(
        (F.col("vec_id") / 50).cast("long").alias("doc"),
        F.posexplode(F.transform(F.col("embedding"), lambda x: x.cast("double"))).alias(
            "pos0", "v"
        ),
    )
    m = exploded.groupBy("doc", (F.col("pos0") + 1).alias("pos")).agg(
        (F.round(F.avg("v"), 6) + F.lit(0.0)).cast("decimal(9,6)").alias("mv")
    )
    return m.groupBy("doc").agg(
        F.count("*").alias("dim"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mv"))),
                lambda s: s["mv"].cast("string"),
            ),
            ",",
        ).alias("pooled"),
    )


#: closed-form feature oracle for the synth_audio sawtooth — shared by
#: every lossless audio container (PCM WAV, FLAC) so the sample math can
#: never drift between them
_AUDIO_SAW_ORACLE = """
WITH params AS (
  SELECT doc_id, 64 + doc_id % 129 AS n, 100 + doc_id % 900 AS amp
  FROM documents
),
samples AS (
  SELECT doc_id, n, amp,
         ((doc_id + t.t) % 64) * amp // 63 - amp // 2 AS s
  FROM params, unnest(range(n)) t(t)
)
SELECT doc_id,
       CAST(n AS BIGINT)                               AS n_samples,
       CAST(8000 AS BIGINT)                            AS sample_rate,
       n / 8000.0                                      AS duration_s,
       CAST(max(abs(s)) AS BIGINT)                     AS peak,
       floor(CAST(sum(abs(s)) AS DOUBLE) * 1000000.0 / n + 0.5) / 1000000.0
                                                       AS mean_abs
FROM samples GROUP BY doc_id, n, amp
"""


@register(
    "q_audio_pipeline",
    driver=False,  # extra §2.11 multimodal proof — pytest-only oracle
    oracle=_AUDIO_SAW_ORACLE,
)
def q_audio_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio decode→featurize, END TO END REAL (operators.multimodal):
    per-doc PCM WAV payloads synthesized closed-form in doc_id, parsed by
    the real RIFF chunk walker (pure Python + numpy — PCM needs no codec
    library, the audio sibling of the PPM/BMP image decoders), then
    duration / peak / mean-abs features — all inside Arrow-batched
    mapInPandas. The DuckDB oracle recomputes the same samples
    arithmetically, so header parse, sample extraction, and every feature
    are value-checked; mean_abs uses explicit floor-rounding (the only
    cross-engine-stable element round — oracle-parity gotchas). Swap
    decode_wav for a codec library (MP3/AAC) and the plan is unchanged."""
    d = table(spark, sf_dir, "documents").select("doc_id")
    return M.audio_features(M.synth_audio(d))


@register(
    "q_flac_pipeline",
    driver=True,  # §2.11 COMPRESSED-audio proof — rotated in r11 (wave 6)
    oracle=_AUDIO_SAW_ORACLE,  # lossless codec ⇒ same closed-form samples
)
def q_flac_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPRESSED-audio multimodal pipeline: an all-FLAC corpus
    (operators/flac_lite — Rice-coded linear-prediction residuals, the
    fifth compression family) through the same decode→featurize path as
    q_audio_pipeline, dispatched by decode_audio's magic-byte sniff.
    FLAC is lossless, so the closed-form sample oracle checks the whole
    path hash-exact: STREAMINFO parse, frame sync + CRC-8/CRC-16,
    subframe decode, and sample reconstruction recover every int16
    bit-for-bit. MP3/AAC stay the codec-library swap-in point; FLAC
    shows the compressed audio path is real.

    Scale: identical economics to q_audio_pipeline — payload bytes stay
    in the row, decode is Arrow-batched mapInPandas, no shuffle before
    the feature row."""
    from ..operators.flac_lite import encode_flac

    d = table(spark, sf_dir, "documents").select("doc_id")
    return M.audio_features(M.synth_audio(d, encoder=encode_flac))


@register(
    "q_dedup_containment",
    driver=False,  # extra §2.11 near-dup measure — pytest-only oracle
    oracle="""
WITH grams AS (
  SELECT doc_id, unnest(list_distinct(
           list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]))) AS gram
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
), counts AS (
  SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(shared / least(ca.n_grams, cb.n_grams), 6) AS containment
FROM shared
JOIN counts ca ON ca.doc_id = doc_a
JOIN counts cb ON cb.doc_id = doc_b
WHERE round(shared / least(ca.n_grams, cb.n_grams), 6) >= 0.6
""",
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup via n-gram CONTAINMENT (|A∩B| / min|A|,|B| ≥
    0.6) — catches a document embedded in a larger one, which Jaccard
    dilutes (operators.dedup.ngram_containment_pairs; scale note there:
    at 100 TB feed it LSH candidates instead of the full gram join)."""
    return D.ngram_containment_pairs(
        table(spark, sf_dir, "documents"), "text", "doc_id", threshold=0.6
    )


#: ideal DCG@10 for graded relevance 10..1 — embedded as the SAME literal in
#: the Spark plan and the oracle so the engines agree bit-for-bit
_IDCG10 = sum((11 - i) / math.log2(i + 1) for i in range(1, 11))


@register(
    "q_retrieval_eval",
    driver=False,  # §2.11 evaluation tooling — pytest oracle
    oracle=f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), sc AS (
  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127.0 AS s
  FROM e
), eq AS (
  SELECT vec_id,
         CASE WHEN s > 0 THEN list_transform(v, x -> floor(x / s + 0.5) * s)
              ELSE v END AS v
  FROM sc
), exact AS (
  SELECT * FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY list_cosine_similarity(q.v, c.v) DESC,
                                       c.vec_id) AS rank_a
    FROM e q JOIN e c ON c.vec_id <> q.vec_id
    WHERE q.vec_id % 40 = 0
  ) WHERE rank_a <= 10
), qtop AS (
  SELECT * FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY list_cosine_similarity(q.v, c.v) DESC,
                                       c.vec_id) AS rank_b
    FROM eq q JOIN eq c ON c.vec_id <> q.vec_id
    WHERE q.vec_id % 40 = 0
  ) WHERE rank_b <= 10
), j AS (
  SELECT b.query_id, b.rank_b, a.rank_a
  FROM qtop b LEFT JOIN exact a
    ON b.query_id = a.query_id AND b.neighbor_id = a.neighbor_id
)
SELECT query_id,
       round(sum(CASE WHEN rank_a IS NOT NULL THEN 1 ELSE 0 END) / 10.0, 6)
         AS recall_at_10,
       round(coalesce(max(CASE WHEN rank_a = 1 THEN 1.0 / rank_b END), 0.0), 6)
         AS rr,
       round(sum(CASE WHEN rank_a IS NOT NULL
                      THEN (11 - rank_a) / log2(rank_b + 1.0) ELSE 0 END)
             / {_IDCG10!r}, 6) AS ndcg_at_10
FROM j GROUP BY query_id
""",
)
def q_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation (recall@10 / reciprocal rank / nDCG@10):
    how much does int8 quantization (q_embedding_quantize's transform) hurt
    cosine retrieval, per query, against the exact ranking as ground truth —
    the eval harness every ANN/quantization decision needs, as an engine
    query rather than offline tooling. Graded relevance 11−rank_exact;
    IDCG@10 embedded as the same double literal in both engines.

    Scale: two broadcast-query top-k passes (same plan as q_cosine_topk —
    corpus never shuffles, WindowGroupLimit rank) + a ranked-list join on
    (query, neighbor) keys, O(queries × k) rows. Evaluating an ANN arm
    instead of the quantized one is the same query with `qtop` swapped for
    the index's candidates (rows-only then — LSH hashes aren't SQL)."""
    e = table(spark, sf_dir, "embeddings")
    eq = e.select(
        "vec_id", V.quantize_scale(F.col("embedding")).alias("s"), "embedding"
    ).select(
        "vec_id",
        F.when(
            F.col("s") > 0,
            V.dequantize(
                V.quantize_int8(F.col("embedding"), F.col("s")), F.col("s")
            ),
        )
        .otherwise(F.transform(F.col("embedding"), lambda x: x.cast("double")))
        .alias("embedding"),
    )
    exact = SIM.cosine_topk(
        e, e.filter(F.col("vec_id") % 40 == 0), "embedding", "vec_id", k=10
    ).select("query_id", "neighbor_id", F.col("rank").alias("rank_a"))
    qtop = SIM.cosine_topk(
        eq, eq.filter(F.col("vec_id") % 40 == 0), "embedding", "vec_id", k=10
    ).select("query_id", "neighbor_id", F.col("rank").alias("rank_b"))
    j = qtop.join(exact, ["query_id", "neighbor_id"], "left")
    hit = F.col("rank_a").isNotNull()
    dcg = F.sum(
        F.when(
            hit, (F.lit(11) - F.col("rank_a")) / F.log2(F.col("rank_b") + 1.0)
        ).otherwise(F.lit(0.0))
    )
    return j.groupBy("query_id").agg(
        F.round(
            F.sum(F.when(hit, 1).otherwise(0)) / F.lit(10.0), 6
        ).alias("recall_at_10"),
        F.round(
            F.coalesce(
                F.max(F.when(F.col("rank_a") == 1, 1.0 / F.col("rank_b"))),
                F.lit(0.0),
            ),
            6,
        ).alias("rr"),
        F.round(dcg / F.lit(_IDCG10), 6).alias("ndcg_at_10"),
    )


@register(
    "q_video_pipeline",
    driver=False,  # §2.11 multimodal video — pytest oracle
    oracle="""
WITH dims AS (
  SELECT doc_id,
         3 + doc_id % 6 AS n,
         8 + doc_id % 5 AS w,
         6 + doc_id % 4 AS h
  FROM documents WHERE doc_id % 4 = 0
), frames AS (
  SELECT doc_id, n, w, h, ff.f
  FROM dims, unnest(range(0, n, 2)) ff(f)
), px AS (
  SELECT doc_id, n, w, h, f,
         (doc_id + 37 * f + pp.p) % 256 AS v,
         pp.p % 3 AS ch
  FROM frames, unnest(range(h * w * 3)) pp(p)
)
SELECT doc_id,
       CAST(any_value(n) AS INT)                      AS n_frames,
       CAST(8 AS INT)                                 AS fps,
       CAST(f AS INT)                                 AS frame_idx,
       CAST(any_value(h) AS INT)                      AS height,
       CAST(any_value(w) AS INT)                      AS width,
       round(avg(CASE WHEN ch = 0 THEN v END), 4)     AS mean_r,
       round(avg(CASE WHEN ch = 1 THEN v END), 4)     AS mean_g,
       round(avg(CASE WHEN ch = 2 THEN v END), 4)     AS mean_b
FROM px GROUP BY doc_id, f
""",
)
def q_video_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video pipeline over the codec-free RAWV container: synthesize
    deterministic multi-frame payloads (closed-form pixels), then
    encode → decode → sample every 2nd frame → per-frame channel means,
    entirely through the Arrow mapInPandas path (operators/multimodal:
    ``synth_videos`` / ``frame_sample``). The oracle recomputes every
    sampled frame's means arithmetically from the pixel formula — the
    whole byte-level round trip is hash-checked, the same design that made
    the image (RAWI/PPM/BMP) and audio (PCM WAV) paths real.

    Scale: payload bytes ride the row through one fan-out + one Arrow
    stage; the 1→N frame explode happens inside the batch (no Spark-side
    explode of raw bytes); partition sizing budgets n_frames × frame bytes
    per row (`arrow.maxRecordsPerBatch` low for long clips). Swapping
    ``decode_rawv`` for an ffmpeg call changes one function, not the
    plan."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 4 == 0)
    vids = M.synth_videos(d, "doc_id")
    sampled = M.frame_sample(vids, "payload", every_n=2, id_col="doc_id")
    return sampled.select(
        "doc_id",
        "n_frames",
        "fps",
        "frame_idx",
        "height",
        "width",
        F.round("mean_r", 4).alias("mean_r"),
        F.round("mean_g", 4).alias("mean_g"),
        F.round("mean_b", 4).alias("mean_b"),
    )


@register(
    "q_sorted_neighborhood",
    driver=False,  # §2.11 record-linkage, second blocking strategy — pytest oracle
    oracle="""
WITH s AS (
  SELECT c_custkey, c_name,
         row_number() OVER (ORDER BY c_name, c_custkey) AS rk
  FROM customer
), nb AS (
  SELECT a.c_custkey AS id_a, a.c_name AS name_a, a.rk AS rk_a,
         b.c_custkey AS id_b, b.c_name AS name_b,
         CAST(b.rk - a.rk AS INT) AS gap
  FROM s a JOIN s b ON b.rk BETWEEN a.rk + 1 AND a.rk + 4
)
SELECT id_a, id_b, gap,
       CAST(levenshtein(name_a, name_b) AS INT) AS dist
FROM nb WHERE levenshtein(name_a, name_b) <= 2
""",
)
def q_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood entity resolution (the SECOND classic blocking
    strategy next to q_fuzzy_match's key blocking): sort records by the
    linkage key, compare each record only against its next 4 neighbors in
    sort order, keep pairs within edit distance 2. Catches near-matches
    that share a PREFIX even when the equi-block key differs — the two
    strategies are complementary and real ER systems union their pairs.

    The window pairing is an EQUI-join: each record explodes its 4
    neighbor ranks (rank+1..rank+4) and joins on rank — no range/BNLJ.
    Scale: the global row_number is the exactness anchor; the standard
    parallel SNM swap is a range-partitioned sort with each partition
    re-reading the w−1 boundary rows of its successor (overlap strips),
    which preserves the exact neighbor set without a global window —
    same anchor/production pairing as q_quantile_normalize."""
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    from pyspark.sql import Window

    s = c.select(
        "c_custkey",
        "c_name",
        F.row_number().over(Window.orderBy("c_name", "c_custkey")).alias("rk"),
    )
    probe = s.select(
        F.col("c_custkey").alias("id_a"),
        F.col("c_name").alias("name_a"),
        F.col("rk").alias("rk_a"),
        F.explode(
            F.sequence(F.col("rk") + 1, F.col("rk") + 4)
        ).alias("rk"),
    )
    nb = probe.join(
        s.select(
            F.col("c_custkey").alias("id_b"),
            F.col("c_name").alias("name_b"),
            "rk",
        ),
        "rk",
    )
    dist = F.levenshtein(F.col("name_a"), F.col("name_b"))
    return (
        nb.select(
            "id_a",
            "id_b",
            (F.col("rk") - F.col("rk_a")).cast("int").alias("gap"),
            dist.cast("int").alias("dist"),
        )
        .filter(F.col("dist") <= 2)
    )


@register(
    "q_source_overlap",
    driver=False,  # §2.11 curation-diagnostic extension — pytest oracle
    oracle="""
WITH h AS (
  SELECT DISTINCT source, md5(text) AS h FROM documents
), pairs AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM h a JOIN h b ON a.h = b.h AND a.source < b.source
  GROUP BY 1, 2
), sizes AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n FROM h GROUP BY source
)
SELECT p.source_a, p.source_b, p.n_shared,
       sa.n AS n_a, sb.n AS n_b,
       round(p.n_shared / CAST(least(sa.n, sb.n) AS DOUBLE), 6)
         AS containment
FROM pairs p
JOIN sizes sa ON sa.source = p.source_a
JOIN sizes sb ON sb.source = p.source_b
""",
)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix — the curation diagnostic behind
    "which feeds are re-publishing each other": per source pair, the
    number of exact-duplicate documents (content hash) and the containment
    ratio shared/min(|A|,|B|). High containment between two sources means
    one should be dropped or deprioritized in the mixture (q_mixture_*)
    before near-dup passes spend compute on them.

    Scale: one distinct over (source, md5) — 16-byte keys — then a
    hash-keyed self-join whose fan-out is the duplicate multiplicity
    across sources (≈ |dups|, not |corpus|²); source sizes broadcast back
    onto the |sources|² result."""
    d = table(spark, sf_dir, "documents")
    h = d.select("source", F.md5("text").alias("h")).distinct()
    a = h.select(F.col("source").alias("source_a"), "h")
    b = h.select(F.col("source").alias("source_b"), "h")
    pairs = (
        a.join(b, "h")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_shared"))
    )
    sizes = h.groupBy("source").agg(F.count("*").alias("n"))
    sa = sizes.select(F.col("source").alias("source_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            "n_a",
            "n_b",
            F.round(
                F.col("n_shared")
                / F.least(F.col("n_a"), F.col("n_b")).cast("double"),
                6,
            ).alias("containment"),
        )
    )


_MD5_U16_SQL = (
    "((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1))-1)*4096"
    " + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1))-1)*256"
    " + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1))-1)*16"
    " + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1))-1))"
)


@register(
    "q_temperature_mix",
    driver=False,  # §2.11 data-mixing extension — pytest oracle
    oracle=f"""
WITH n AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s
           FROM documents GROUP BY source),
rates AS (
  SELECT source, n_s,
         sqrt(CAST((SELECT min(n_s) FROM n) AS DOUBLE) / n_s) AS keep_rate
  FROM n
)
SELECT d.source, r.n_s,
       round(r.keep_rate, 9)         AS keep_rate,
       CAST(count(*) AS BIGINT)      AS n_kept,
       CAST(sum(d.doc_id) AS BIGINT) AS id_sum
FROM documents d
JOIN rates r ON r.source = d.source
WHERE {_MD5_U16_SQL} / 65536.0 < r.keep_rate
GROUP BY d.source, r.n_s, r.keep_rate
""",
)
def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source rebalancing (T = 2), the data-mixing step
    between raw crawl shares and training shares: source s keeps rate
    √(n_min / n_s) — the rarest source keeps everything, dominant sources
    are downsampled toward the T=2 flattened distribution (keep ∝
    share^(1/T − 1)). The rate is ONE exact integer ratio through ONE
    division and ONE sqrt — both correctly rounded IEEE ops, so the
    boundary is bit-identical across engines (no cross-source float sum,
    no pow/libm). Selection replays exactly: the uniform is an md5 slice
    of doc_id, and the census pins membership by id checksum, not just
    counts.

    Scale: per-source counts are a partial+final agg (|sources| rows →
    1-row min broadcast); the keep filter is pure codegen riding the
    scan — zero extra shuffle at any corpus size."""
    d = table(spark, sf_dir, "documents")
    n = d.groupBy("source").agg(F.count("*").alias("n_s"))
    n_min = n.agg(F.min("n_s").alias("n_min"))
    rates = n.join(F.broadcast(n_min)).select(
        "source",
        "n_s",
        F.sqrt(F.col("n_min").cast("double") / F.col("n_s")).alias("keep_rate"),
    )
    u16 = (
        (F.instr(F.lit("0123456789abcdef"), F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)) - 1) * 4096
        + (F.instr(F.lit("0123456789abcdef"), F.substring(F.md5(F.col("doc_id").cast("string")), 2, 1)) - 1) * 256
        + (F.instr(F.lit("0123456789abcdef"), F.substring(F.md5(F.col("doc_id").cast("string")), 3, 1)) - 1) * 16
        + (F.instr(F.lit("0123456789abcdef"), F.substring(F.md5(F.col("doc_id").cast("string")), 4, 1)) - 1)
    )
    kept = d.join(F.broadcast(rates), "source").filter(
        u16 / 65536.0 < F.col("keep_rate")
    )
    return kept.groupBy(
        "source", "n_s", F.round("keep_rate", 9).alias("keep_rate")
    ).agg(
        F.count("*").alias("n_kept"),
        F.sum("doc_id").alias("id_sum"),
    )


@register(
    "q_url_normalize",
    driver=False,  # §2.11 web-curation extension — pytest oracle
    oracle="""
WITH raw AS (
  SELECT doc_id,
         'HTTPS://WWW.' || source || '.Example.COM:443/Docs//'
           || CAST(doc_id % 5 AS VARCHAR)
           || '/page?utm_source=feed&ref=' || CAST(doc_id % 3 AS VARCHAR)
           || '&id=' || CAST(doc_id AS VARCHAR)
           || '&utm_campaign=x#frag' AS url
  FROM documents
), parts AS (
  SELECT doc_id, url,
         regexp_replace(
           lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)),
           '^www\\.|:(443|80)$', '', 'g')                     AS host,
         regexp_replace(
           regexp_replace(regexp_extract(url, '^[A-Za-z]+://[^/?#]+(/[^?#]*)', 1),
                          '/{2,}', '/', 'g'),
           '(.)/$', '\\1')                                    AS path,
         array_to_string(
           list_sort(list_filter(
             string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
             p -> NOT regexp_matches(p, '^(utm_[^=]*|ref|fbclid|gclid)=')
                  AND p <> '')),
           '&')                                               AS clean_query
  FROM raw
)
SELECT doc_id,
       'https://' || host || path ||
         CASE WHEN clean_query <> '' THEN '?' || clean_query ELSE '' END
         AS canonical_url,
       regexp_extract(host, '([^.]+\\.[^.]+)$', 1) AS domain
FROM parts
""",
)
def q_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization — the first step of web-corpus curation (every
    crawl dedup keys on the canonical URL before any content hash):
    lowercase the host, strip the www prefix and default ports, collapse
    duplicate path slashes, drop the trailing slash and the fragment,
    remove tracking parameters (utm_*, ref, fbclid, gclid), and SORT the
    surviving query parameters so equivalent URLs serialize identically.
    The raw URL is synthesized deterministically from fixture columns
    (the fixture has no URL column); the normalization chain — the
    actual operator — is the same regexp/array pipeline a crawl would
    run, expressed identically in both engines. The registered domain
    (last two host labels) comes along for per-domain quotas
    and blocklists.

    Scale: pure codegen projection — regexp_replace / split / sort / join
    on each row independently, zero shuffle, scales linearly with no
    coordination. At 100 TB this runs fused into the ingest scan."""
    d = table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("HTTPS://WWW."), F.col("source"), F.lit(".Example.COM:443/Docs//"),
        (F.col("doc_id") % 5).cast("string"),
        F.lit("/page?utm_source=feed&ref="), (F.col("doc_id") % 3).cast("string"),
        F.lit("&id="), F.col("doc_id").cast("string"),
        F.lit("&utm_campaign=x#frag"),
    )
    host = F.regexp_replace(
        F.lower(F.regexp_extract(url, r"^[A-Za-z]+://([^/?#]+)", 1)),
        r"^www\.|:(443|80)$", "",
    )
    path = F.regexp_replace(
        F.regexp_replace(
            F.regexp_extract(url, r"^[A-Za-z]+://[^/?#]+(/[^?#]*)", 1),
            r"/{2,}", "/",
        ),
        r"(.)/$", r"$1",
    )
    clean_query = F.array_join(
        F.array_sort(
            F.filter(
                F.split(F.regexp_extract(url, r"\?([^#]*)", 1), "&"),
                lambda p: ~p.rlike(r"^(utm_[^=]*|ref|fbclid|gclid)=") & (p != ""),
            )
        ),
        "&",
    )
    return d.select(
        "doc_id",
        F.concat(
            F.lit("https://"), host, path,
            F.when(clean_query != "", F.concat(F.lit("?"), clean_query)).otherwise(
                F.lit("")
            ),
        ).alias("canonical_url"),
        F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1).alias("domain"),
    )


@register(
    "q_binary_hamming",
    driver=False,  # §2.11 binary-quantized retrieval — pytest oracle
    oracle="""
WITH codes AS (
  SELECT vec_id,
         list_sum(list_transform(range(0, 32),
           i -> CASE WHEN embedding[i + 1] > 0
                THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS lo,
         list_sum(list_transform(range(0, 32),
           i -> CASE WHEN embedding[i + 33] > 0
                THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS hi
  FROM embeddings
), q AS (SELECT * FROM codes WHERE vec_id % 40 = 0),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(bit_count(xor(q.lo, c.lo)) + bit_count(xor(q.hi, c.hi))
              AS BIGINT) AS hamming
  FROM q JOIN codes c ON c.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, hamming, CAST(rn AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY hamming, neighbor_id) AS rn
      FROM pairs)
WHERE rn <= 5
""",
)
def q_binary_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary (sign) embedding quantization + Hamming-distance retrieval —
    the 32×-compression tier below int8 (q_embedding_quantize): each
    64-dim vector becomes two 32-bit sign words, and retrieval ranks by
    popcount(xor) — pure integer arithmetic, so unlike cosine scores the
    ENTIRE ranking is engine-exact and hash-checkable, not just rounded.
    Per query: top-5 by (hamming ASC, id) total order
    (operators.similarity.binary_hamming_topk).

    Scale: codes are 8 bytes/vector (64 dims) — a billion vectors fit in
    8 GB, so the query side always broadcasts and the corpus scans
    narrow code columns only; popcount+xor stay in whole-stage codegen.
    The top-5 cut is WindowGroupLimit (per-partition partial top-k).
    In production: binary prefilter to ~10% candidates, then exact
    re-rank on the float vectors (the standard two-tier retrieval);
    recall of exact-top-5-within-binary-top-50 ≥ 0.7 is asserted in
    pytest (test_operators.test_binary_hamming_two_tier_recall)."""
    e = table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") % 40 == 0)
    return SIM.binary_hamming_topk(e, queries, "embedding", "vec_id", k=5, dim=64)



@register(
    "q_passage_dedup_rewrite",
    driver=False,  # §2.11 exact substring-dedup REWRITE — pytest oracle
    oracle="""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
  WHERE len(string_split(text, ' ')) > 0
), chunks AS (
  SELECT doc_id, CAST(p AS BIGINT) AS pos,
         array_to_string(w[p * 8 + 1 : p * 8 + 8], ' ') AS chunk
  FROM words, UNNEST(range(0, CAST(ceil(len(w) / 8.0) AS BIGINT))) AS t(p)
), owners AS (
  SELECT chunk, min(doc_id * 1000000 + pos) AS owner_key
  FROM chunks GROUP BY chunk
), kept AS (
  SELECT c.doc_id, c.pos, c.chunk
  FROM chunks c JOIN owners o
    ON o.chunk = c.chunk AND c.doc_id * 1000000 + c.pos = o.owner_key
)
SELECT c.doc_id,
       CAST(count(*) AS BIGINT)                    AS n_chunks,
       CAST(count(k.pos) AS BIGINT)                AS n_kept,
       md5(coalesce(string_agg(k.chunk, ' ' ORDER BY c.pos)
           FILTER (WHERE k.pos IS NOT NULL), ''))  AS clean_md5
FROM chunks c
LEFT JOIN kept k ON k.doc_id = c.doc_id AND k.pos = c.pos
GROUP BY c.doc_id
""",
)
def q_passage_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact passage-level dedup REWRITE (the Lee-et-al deduplicate-text-
    datasets step at paragraph granularity): split every document into
    non-overlapping 8-token passages, keep each distinct passage only at
    its FIRST corpus occurrence (min (doc_id, pos), encoded as one
    integer key so the argmin is engine-exact), and reassemble the
    surviving passages in order — emitting per doc the passage counts
    and the md5 of the rewritten text. Unlike the detection-only censuses
    (q_repeated_passages), this produces the cleaned corpus itself.

    Scale: one shuffle keyed by passage text (at 100 TB: by its 16-byte
    hash) carrying (chunk, owner-key) pairs — map-side combine collapses
    per-partition repeats; the keep/drop join is on the fact table's own
    (doc, pos) key; reassembly is a per-doc sort inside one aggregation
    (passage lists are doc-sized, never corpus-sized)."""
    d = table(spark, sf_dir, "documents")
    words = d.select("doc_id", F.split(F.col("text"), " ").alias("w")).filter(
        F.size("w") > 0
    )
    chunks = words.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.lit(0),
                F.ceil(F.size("w") / F.lit(8.0)).cast("long") - 1,
            )
        ).alias("pos"),
        F.col("w"),
    ).select(
        "doc_id",
        "pos",
        F.array_join(F.slice(F.col("w"), F.col("pos") * 8 + 1, 8), " ").alias(
            "chunk"
        ),
    )
    owners = chunks.groupBy("chunk").agg(
        F.min(F.col("doc_id") * 1000000 + F.col("pos")).alias("owner_key")
    )
    marked = chunks.join(owners, "chunk").select(
        "doc_id",
        "pos",
        "chunk",
        (F.col("doc_id") * 1000000 + F.col("pos") == F.col("owner_key")).alias(
            "keep"
        ),
    )
    return marked.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("keep"),
                                F.struct(F.col("pos"), F.col("chunk")),
                            )
                        )
                    ),
                    lambda x: x.chunk,
                ),
                " ",
            )
        ).alias("clean_md5"),
    )


@register(
    "q_quality_classifier",
    driver=False,  # §2.11 model-based quality filtering — pytest oracle
    oracle="""
WITH feats AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq,
         CAST(len(list_filter(string_split(text, ' '),
              x -> x IN ('value', 'row', 'table'))) AS BIGINT) AS n_filler,
         n_chars
  FROM documents WHERE len(string_split(text, ' ')) > 0
), scored AS (
  SELECT doc_id, n_tok,
         ((0.9 * (CAST(n_uniq AS DOUBLE) / n_tok)
           - 1.4 * (CAST(n_filler AS DOUBLE) / n_tok))
          + 0.05 * (CAST(n_chars AS DOUBLE) / n_tok)) - 0.1 AS log_odds
  FROM feats
)
SELECT doc_id, n_tok, round(log_odds, 6) AS log_odds,
       CASE WHEN log_odds >= 0.45 THEN 'high'
            WHEN log_odds >= 0.25 THEN 'mid'
            ELSE 'low' END AS quality_band
FROM scored
""",
)
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring (the fasttext/DCLM-classifier pattern):
    a LINEAR model over engineered text features — unique-token ratio,
    filler-word ratio, chars-per-token — emitting the raw log-odds and a
    quality band. The sigmoid is deliberately NOT applied: exp() is not
    correctly-rounded identically across engines, while the linear
    log-odds (a fixed-order chain of IEEE mul/add on identical feature
    doubles) is bit-exact — and the band thresholds are monotone in
    log-odds anyway, so filtering decisions are unchanged. Weights are
    literals standing in for trained parameters; swapping in a real
    model's coefficients is a one-line change (q_inference_stub shows
    the Arrow batch path when the model is not expressible as SQL).

    Scale: features and score are one codegen projection over the scan —
    zero shuffle, zero Python; the classifier runs at ingest speed. The
    band cut feeds q_mixture_resample / q_quality_filter downstream."""
    d = table(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    feats = d.filter(F.size(w) > 0).select(
        "doc_id",
        F.size(w).cast("long").alias("n_tok"),
        F.size(F.array_distinct(w)).cast("long").alias("n_uniq"),
        F.size(F.filter(w, lambda x: x.isin("value", "row", "table")))
        .cast("long")
        .alias("n_filler"),
        "n_chars",
    )
    log_odds = (
        (
            0.9 * (F.col("n_uniq").cast("double") / F.col("n_tok"))
            - 1.4 * (F.col("n_filler").cast("double") / F.col("n_tok"))
        )
        + 0.05 * (F.col("n_chars").cast("double") / F.col("n_tok"))
    ) - 0.1
    return feats.select(
        "doc_id",
        "n_tok",
        F.round(log_odds, 6).alias("log_odds"),
        F.when(log_odds >= 0.45, "high")
        .when(log_odds >= 0.25, "mid")
        .otherwise("low")
        .alias("quality_band"),
    )


#: closed-form pixel oracle for the synth_images → 8×8 thumbnail path —
#: shared by every lossless-codec pipeline (PNG, GIF) so the formula can
#: never drift between them; test_jpeg_pipeline_fidelity checks the lossy
#: twin against the same math with a tolerance instead of a hash
_THUMB8_ORACLE = """
WITH dims AS (
  SELECT doc_id,
         8 + doc_id % 16 AS w,
         8 + doc_id % 12 AS h
  FROM documents
),
thumb AS (
  SELECT doc_id, w, h,
         (doc_id + ((yy * h) // 8) * w * 3 + ((xx * w) // 8) * 3 + 0) % 256 AS r,
         (doc_id + ((yy * h) // 8) * w * 3 + ((xx * w) // 8) * 3 + 1) % 256 AS g,
         (doc_id + ((yy * h) // 8) * w * 3 + ((xx * w) // 8) * 3 + 2) % 256 AS b
  FROM dims, unnest(range(8)) ty(yy), unnest(range(8)) tx(xx)
)
SELECT doc_id,
       CAST(w AS INTEGER)        AS width,
       CAST(h AS INTEGER)        AS height,
       round(avg(r), 4)          AS mean_r,
       round(avg(g), 4)          AS mean_g,
       round(avg(b), 4)          AS mean_b
FROM thumb GROUP BY doc_id, w, h
"""


@register(
    "q_png_pipeline",
    # driver r6–r9 (4 green rounds); rotated off r10 (VERDICT r9 #2, wave 5)
    # — the codec family keeps q_gif_pipeline + q_webp_pipeline
    driver=False,
    oracle=_THUMB8_ORACLE,
)
def q_png_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPRESSED-codec multimodal pipeline: an all-PNG corpus (stdlib
    zlib IDAT, CRC-checked chunks) through the same decode→resize→
    featurize path as q_image_pipeline. Pixel content is closed-form in
    doc_id, so thumbnail channel means are oracle-exact — proving the
    DEFLATE inflate + filter reconstruction recovers every pixel bit-for-
    bit, not just plumbing shape. (Byte length is intentionally absent
    from the output: compressed size is not SQL-expressible.) JPEG/WebP
    remain the Pillow swap-in point; PNG shows the compressed path is
    real, not stubbed.

    Scale: same economics as q_image_pipeline — payload bytes stay in
    the row, decode is Arrow-batched mapInPandas, no shuffle before the
    per-doc feature row."""
    from ..operators.multimodal import encode_png, image_features, synth_images

    d = table(spark, sf_dir, "documents").select("doc_id")
    feats = image_features(synth_images(d, formats=(encode_png,)))
    return feats.drop("byte_len")


@register("q_audio_spectral", driver=False)  # rows-only: FFT floats aren't SQL-replayable; fundamental-recovery physics pinned in pytest
def q_audio_spectral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral audio featurization (operators.multimodal.audio_spectral):
    numpy rFFT per WAV clip inside the Arrow batch — dominant frequency,
    its energy share, and 4 band-energy fractions. Synthesized sawtooth
    clips have fundamental rate/64 = 125 Hz, which the pytest check
    (test_audio_spectral_recovers_fundamental) requires the FFT path to
    recover within one bin — proving a REAL transform, not plumbing.

    Scale: decode+FFT is per-row work in mapInPandas (no shuffle); clip
    batches bounded by arrow.maxRecordsPerBatch like every payload op."""
    from ..operators.multimodal import audio_spectral, synth_audio

    d = table(spark, sf_dir, "documents").select("doc_id")
    return audio_spectral(synth_audio(d))


@register("q_jpeg_pipeline", driver=False)  # rows-only by nature: JPEG is lossy, so decoded features are near-exact, not hash-equal; fidelity pinned in pytest
def q_jpeg_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LOSSY-codec multimodal pipeline: an all-JPEG corpus (baseline
    sequential DCT from ``operators.jpeg_lite`` — our own spec-faithful
    encoder) through decode→resize→featurize. Dimensions survive exactly;
    pixel means shift by quantization error, so this is rows-only with
    the fidelity contract in pytest
    (test_jpeg_pipeline_fidelity: every thumbnail channel mean within ±8
    of the closed-form reference, dims exact, codec deterministic).

    Scale: identical economics to q_image_pipeline/q_png_pipeline; the
    entropy decode is the per-row hot loop — at 100 TB this is the one
    place a C codec (Pillow-SIMD, nvJPEG) buys real money, and
    decode_image is the single swap-in point."""
    from ..operators.jpeg_lite import encode_jpeg
    from ..operators.multimodal import image_features, synth_images

    d = table(spark, sf_dir, "documents").select("doc_id")
    feats = image_features(synth_images(d, formats=(lambda a: encode_jpeg(a, 90),)))
    return feats.drop("byte_len")


@register("q_coreset_kcenter", driver=False)  # rows-only: greedy float argmax selection isn't SQL-replayable; exact NumPy replay pinned in pytest
def q_coreset_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diverse-subset (coreset) selection: greedy k-center over the
    embeddings (operators.clustering.kcenter_select, k=12) — the
    farthest-point 2-approximation used to pick maximally-spread training
    examples / eval probes. Output: selection order, chosen vec_id, and
    the (monotonically non-increasing after round 1) covering radius² at
    each pick. Rows-only by nature — the argmax chain is a sequential
    float recurrence; tests/test_clustering.py replays it EXACTLY in
    NumPy and pins the radius monotonicity + the coverage guarantee
    (every vector within the final radius of some center)."""
    from ..operators.clustering import kcenter_select

    e = table(spark, sf_dir, "embeddings")
    picks = kcenter_select(e, "embedding", "vec_id", k=12)
    return spark.createDataFrame(
        [(i, vid, round(d, 6)) for i, (vid, d) in enumerate(picks)],
        "pick int, vec_id long, radius_sq double",
    )


@register(
    "q_gif_pipeline",
    # driver slot since r9 (VERDICT r8 #1): first non-PNG codec driver grade
    oracle=_THUMB8_ORACLE,  # same lossless path ⇒ same closed-form pixel math
)
def q_gif_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DICTIONARY-compression (LZW) multimodal pipeline: an all-GIF
    corpus through decode→resize→featurize. The synthesized pixel pattern
    has exactly ≤256 distinct colors, so GIF is lossless here and the
    closed-form pixel oracle checks the whole path hash-exact — proving
    the LZW decode (variable code widths, dictionary growth/reset)
    recovers every pixel, completing the codec-family triptych:
    DEFLATE+filters (PNG), DCT+Huffman (JPEG), LZW+palette (GIF).

    Scale: identical economics to the other image pipelines — per-row
    Arrow-batched decode, no shuffle before the feature row."""
    from ..operators.multimodal import encode_gif, image_features, synth_images

    d = table(spark, sf_dir, "documents").select("doc_id")
    feats = image_features(synth_images(d, formats=(encode_gif,)))
    return feats.drop("byte_len")


@register(
    "q_webp_pipeline",
    # driver slot since r10 (VERDICT r9 #2, wave 5): third codec family on
    # the surface (VP8L lossless, alongside GIF/LZW; PNG rotated off after
    # 4 green rounds)
    oracle=_THUMB8_ORACLE,  # lossless codec ⇒ same closed-form pixel math
)
def q_webp_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WebP-LOSSLESS (VP8L) multimodal pipeline: an all-WebP corpus
    through decode→resize→featurize. VP8L is the fourth compression
    family in the decode path — canonical-prefix-coded ARGB with LZ77
    backrefs, color cache, and spatial transforms (operators/webp_lite,
    pure Python from the public bitstream spec). Lossless, so the
    closed-form pixel oracle checks the whole path hash-exact: RIFF
    parse, prefix-code reconstruction (code-length code incl. repeat
    runs), and literal decode recover every pixel bit-for-bit.

    Scale: identical economics to the other image pipelines — payload
    bytes stay in the row, decode is Arrow-batched mapInPandas, no
    shuffle before the feature row."""
    from ..operators.multimodal import image_features, synth_images
    from ..operators.webp_lite import encode_webp

    d = table(spark, sf_dir, "documents").select("doc_id")
    feats = image_features(synth_images(d, formats=(encode_webp,)))
    return feats.drop("byte_len")


@register(
    "q_qoi_pipeline",
    driver=False,  # §2.11 eighth codec family (QOI) — pytest oracle
    oracle=_THUMB8_ORACLE,  # lossless codec ⇒ same closed-form pixel math
)
def q_qoi_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The QOI ("Quite OK Image", qoiformat.org) multimodal pipeline: an
    all-QOI corpus through decode→resize→featurize. QOI is the eighth
    compression family in the decode path — a byte-oriented lossless
    format built from a 64-slot color hash index, wraparound diff/luma
    deltas, and run-length ops (operators/multimodal encode_qoi/decode_qoi,
    pure Python from the one-page public spec). Lossless, so the
    closed-form pixel oracle checks the whole path hash-exact.

    Scale: identical economics to the other image pipelines — payload
    bytes stay in the row, decode is Arrow-batched mapInPandas, no
    shuffle before the feature row."""
    from ..operators.multimodal import encode_qoi, image_features, synth_images

    d = table(spark, sf_dir, "documents").select("doc_id")
    feats = image_features(synth_images(d, formats=(encode_qoi,)))
    return feats.drop("byte_len")


@register("q_adpcm_pipeline", driver=False)  # rows-only: lossy-but-integer-exact codec; feature values pinned against a numpy replay in pytest (q_jpeg_pipeline precedent)
def q_adpcm_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sixth compression family in the multimodal tier: IMA ADPCM
    telephony/dictation audio (WAV format 0x11 — adaptive delta coding,
    4:1). Unlike the DCT codecs the lossy result is INTEGER-exact, so
    tests pin the decoded features bit-for-bit against a numpy replay
    rather than a PSNR band; no SQL oracle since DuckDB cannot run the
    step-table recurrence (same class as q_jpeg_pipeline).

    Scale: identical economics to q_audio_pipeline — payload bytes stay
    in the row, decode is Arrow-batched mapInPandas, no shuffle before
    the feature row."""
    from ..operators.multimodal import encode_wav_adpcm

    d = table(spark, sf_dir, "documents").select("doc_id")
    return M.audio_features(M.synth_audio(d, encoder=encode_wav_adpcm))


@register(
    "q_tiff_pipeline",
    driver=False,  # §2.11 archival-codec multimodal proof (round 4) — pytest oracle
    oracle=_THUMB8_ORACLE,
)
def q_tiff_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ARCHIVAL-codec multimodal pipeline: an all-TIFF corpus
    (baseline TIFF 6.0 — II byte order, IFD tag walk, PackBits RLE
    strips) through the same decode→resize→featurize path as
    q_image_pipeline. TIFF is the scanning/archival interchange format a
    document-heavy corpus actually contains; PackBits is lossless, so the
    closed-form pixel oracle checks the strip assembly and RLE decode
    bit-for-bit — the seventh compression family proven end to end.

    Scale: same economics as q_image_pipeline — payload bytes stay in
    the row, decode is Arrow-batched mapInPandas, no shuffle before the
    per-doc feature row."""
    from ..operators.multimodal import encode_tiff, image_features, synth_images

    d = table(spark, sf_dir, "documents").select("doc_id")
    feats = image_features(synth_images(d, formats=(encode_tiff,)))
    return feats.drop("byte_len")


# --------------------------------------------------------------------------
# Probabilistic record linkage — Fellegi-Sunter (round 5)
# --------------------------------------------------------------------------
@register(
    "q_record_linkage",
    driver=False,  # §2.11 dedup/linkage family (round 5) — pytest oracle
    oracle="""
WITH a AS (
  SELECT c_custkey AS key, c_name AS name, c_nationkey AS nk, c_mktsegment AS seg,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal
  FROM customer
), b AS (
  -- the "dirty" re-registration: one character deleted at an md5-derived
  -- position — a deterministic, replayable data-entry error
  SELECT key, nk, seg, bal,
         substr(name, 1, pos - 1) || substr(name, pos + 1) AS name
  FROM (
    SELECT *, CAST(1 + (CAST('0x' || substr(md5('del|' || CAST(key AS VARCHAR)), 1, 15) AS BIGINT) % 18) AS INTEGER) AS pos
    FROM a
  )
), cand AS (
  SELECT a.key AS key_a, b.key AS key_b,
         levenshtein(a.name, b.name) AS lev,
         CASE WHEN a.bal = b.bal THEN 1 ELSE 0 END AS bal_eq
  FROM a JOIN b ON a.nk = b.nk AND a.seg = b.seg
), scored AS (
  SELECT key_a, key_b, lev,
         (CASE WHEN lev <= 1 THEN 2400 ELSE -900 END
          + CASE WHEN bal_eq = 1 THEN 3200 ELSE -600 END) AS score_mb
  FROM cand
)
SELECT key_a, key_b, CAST(lev AS BIGINT) AS lev, CAST(score_mb AS BIGINT) AS score_mb
FROM scored WHERE score_mb >= 3000
""",
)
def q_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage (SURVEY §2.11 dedup
    family — the ENTITY-level sibling of document dedup): a deterministic
    "dirty" re-registration of every customer (one character deleted at an
    md5-derived position) is linked back against the clean file. Candidate
    pairs come from BLOCKING on (nationkey, mktsegment) — never all-pairs —
    then each pair scores a log-likelihood sum of field-agreement weights
    (integer MILLI-BITS, ln(m/u) pre-quantized as literals, so the score is
    an exact integer in both engines): name agreement is edit-distance ≤ 1
    (``levenshtein`` is a built-in with identical integer semantics in
    Spark and DuckDB), balance agreement is exact cents. Pairs above the
    match threshold emit with their evidence.

    Scale: blocking bounds fan-out to Σ_blocks |A_b|·|B_b| — the linkage
    analogue of LSH banding; at 100 TB you tighten blocks (add name prefix
    / phonetic keys) exactly like narrowing an LSH bucket, and the scoring
    join is unchanged. The weight table in production is learned by EM —
    the literals here are its frozen output, which is what makes the query
    oracle-replayable."""
    a = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nk"),
        F.col("c_mktsegment").alias("seg"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal"),
    )
    pos = (
        1
        + F.conv(
            F.substring(F.md5(F.concat(F.lit("del|"), F.col("key").cast("string"))), 1, 15),
            16,
            10,
        ).cast("long")
        % 18
    ).cast("int")
    b = a.withColumn("pos", pos).select(
        F.col("key").alias("key_b"),
        F.col("nk").alias("nk_b"),
        F.col("seg").alias("seg_b"),
        F.col("bal").alias("bal_b"),
        F.expr(
            "concat(substring(name, 1, pos - 1), substring(name, pos + 1)) AS name_b"
        ),
    )
    cand = a.join(
        b, (F.col("nk") == F.col("nk_b")) & (F.col("seg") == F.col("seg_b"))
    )
    lev = F.levenshtein(F.col("name"), F.col("name_b"))
    score = F.when(lev <= 1, 2400).otherwise(-900) + F.when(
        F.col("bal") == F.col("bal_b"), 3200
    ).otherwise(-600)
    return (
        cand.select(
            F.col("key").alias("key_a"),
            F.col("key_b"),
            lev.cast("long").alias("lev"),
            score.cast("long").alias("score_mb"),
        )
        .filter(F.col("score_mb") >= 3000)
    )


# --------------------------------------------------------------------------
# Feature hashing (the hashing trick) with collision census (round 5)
# --------------------------------------------------------------------------
@register(
    "q_feature_hashing",
    driver=False,  # §2.11 feature-engineering family (round 5) — pytest oracle
    oracle="""
WITH f AS (
  SELECT DISTINCT 'type=' || event_type AS feat FROM events
  UNION
  SELECT DISTINCT 'k_band=' || CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) // 10 AS VARCHAR)
  FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL
  UNION
  SELECT DISTINCT 'src=' || source FROM documents
), h AS (
  SELECT feat,
         CAST('0x' || substr(md5(feat), 1, 15) AS BIGINT) % 64 AS slot
  FROM f
)
SELECT slot,
       CAST(count(*) AS BIGINT) AS n_features,
       CAST(count(*) - 1 AS BIGINT) AS n_collisions,
       min(feat) AS example_feat
FROM h GROUP BY slot
""",
)
def q_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick, audited (SURVEY §2.11 feature-engineering tier):
    a heterogeneous feature vocabulary (event types, banded JSON props,
    document sources) hashes into 64 slots via the portable md5-slice
    hash, and the census reports per-slot load and collisions — the
    dimensionality-vs-collision trade a hashed feature space makes is only
    safe when it is MEASURED. Deterministic in both engines (same md5,
    same modulus), unlike library murmur hashes that differ per engine.

    Scale: the vocabulary is distinct-key-sized, the census one small
    groupBy; the hash itself applies to the full event stream at zero
    shuffle when used as a feature (scan-fused md5)."""
    e = table(spark, sf_dir, "events")
    d = table(spark, sf_dir, "documents")
    k = F.get_json_object("props", "$.k").cast("long")
    feats = (
        e.select(F.concat(F.lit("type="), F.col("event_type")).alias("feat"))
        .distinct()
        .union(
            e.filter(k.isNotNull())
            .select(
                F.concat(
                    F.lit("k_band="), F.expr("cast(cast(get_json_object(props, '$.k') as bigint) div 10 as string)")
                ).alias("feat")
            )
            .distinct()
        )
        .union(
            d.select(F.concat(F.lit("src="), F.col("source")).alias("feat")).distinct()
        )
        .distinct()
    )
    slot = (
        F.conv(F.substring(F.md5(F.col("feat")), 1, 15), 16, 10).cast("long") % 64
    )
    return (
        feats.select("feat", slot.alias("slot"))
        .groupBy("slot")
        .agg(
            F.count("*").alias("n_features"),
            (F.count("*") - 1).alias("n_collisions"),
            F.min("feat").alias("example_feat"),
        )
    )


# --------------------------------------------------------------------------
# Exact substring dedup spans (Lee et al. shape, round 5)
# --------------------------------------------------------------------------
@register(
    "q_substring_dedup_spans",
    driver=False,  # §2.11 dedup family (round 5) — pytest oracle
    oracle="""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), s AS (
  SELECT doc_id, ws FROM d WHERE len(ws) >= 8
), pos AS (
  SELECT doc_id, u.i AS i, md5(u.g) AS h
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(ws) - 6),
               i -> struct_pack(i := i, g := array_to_string(ws[i:i+7], ' ')))) AS u
    FROM s
  )
), dup AS (
  SELECT h FROM pos GROUP BY h HAVING count(*) >= 2
), hits AS (
  SELECT pos.doc_id, pos.i FROM pos JOIN dup USING (h)
), isl AS (
  SELECT doc_id, i,
         sum(CASE WHEN prev_i IS NULL OR i - prev_i > 8 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY i
                 ROWS UNBOUNDED PRECEDING) AS island
  FROM (SELECT doc_id, i,
               lag(i) OVER (PARTITION BY doc_id ORDER BY i) AS prev_i
        FROM hits)
)
SELECT doc_id,
       CAST(min(i) AS BIGINT)        AS span_start,
       CAST(max(i) + 7 AS BIGINT)    AS span_end,
       CAST(count(*) AS BIGINT)      AS n_windows
FROM isl GROUP BY doc_id, island
""",
)
def q_substring_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT substring dedup at SPAN granularity — the Lee et al.
    ("Deduplicating Training Data Makes Language Models Better") shape,
    where the unit of removal is the duplicated PASSAGE, not the document
    (SURVEY §2.11 dedup tier, the third granularity next to doc-level
    q_dedup_exact and pair-level q_dedup_ngram_jaccard): every positional
    8-token window is fingerprinted (md5 — portable, and the dup-join
    shuffles 32-char keys instead of full n-gram text); windows whose
    fingerprint occurs ≥2 times anywhere in the corpus are duplication
    hits; per doc, overlapping/adjacent hit windows merge into maximal
    spans (gaps-and-islands: new island when the gap exceeds the window
    width) reported as [span_start, span_end] token ranges — exactly the
    cut-list a passage-level deduper feeds back into the corpus.

    Scale: one fingerprint-keyed shuffle for the duplicate census + one
    per-doc window for the island merge (doc-keyed, already co-partitioned
    with the hits). The Lee et al. suffix-array construction finds
    VARIABLE-length duplicates; the fixed-window + merge form is the
    distributed equivalent the big corpora actually run (windows union to
    cover any duplicate ≥ W tokens, spans reconstruct the extent)."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", T.tokens(F.col("text")).alias("ws")
    )
    s = d.filter(F.size("ws") >= 8)
    pos = s.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform(sequence(1, size(ws) - 7),"
                " i -> md5(concat_ws(' ', slice(ws, i, 8))))"
            )
        ).alias("p0", "h"),
    ).select("doc_id", (F.col("p0") + 1).alias("i"), "h")
    dup = pos.groupBy("h").agg(F.count("*").alias("c")).filter(F.col("c") >= 2)
    hits = pos.join(dup.select("h"), "h").select("doc_id", "i")
    wlag = Window.partitionBy("doc_id").orderBy("i")
    wrun = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    isl = (
        hits.withColumn("prev_i", F.lag("i").over(wlag))
        .withColumn(
            "island",
            F.sum(
                F.when(
                    F.col("prev_i").isNull() | (F.col("i") - F.col("prev_i") > 8), 1
                ).otherwise(0)
            ).over(wrun),
        )
    )
    return isl.groupBy("doc_id", "island").agg(
        F.min("i").alias("span_start"),
        (F.max("i") + 7).alias("span_end"),
        F.count("*").alias("n_windows"),
    ).select("doc_id", "span_start", "span_end", "n_windows")


# --------------------------------------------------------------------------
# Winnowing fingerprints (MOSS, round 5)
# --------------------------------------------------------------------------
@register(
    "q_winnowing_fingerprints",
    driver=False,  # §2.11 dedup/fingerprint family (round 5) — pytest oracle
    oracle="""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), s AS (
  SELECT doc_id, ws FROM d WHERE len(ws) >= 4
), pos AS (
  SELECT doc_id, u.i AS i,
         CAST('0x' || substr(md5(u.g), 1, 15) AS BIGINT) AS h
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(ws) - 2),
               i -> struct_pack(i := i, g := array_to_string(ws[i:i+3], ' ')))) AS u
    FROM s
  )
), win AS (
  SELECT doc_id, i,
         min(struct_pack(h := h, i := i))
           OVER (PARTITION BY doc_id ORDER BY i
                 ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS mw,
         count(*) OVER (PARTITION BY doc_id ORDER BY i
                        ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS frame_n,
         count(*) OVER (PARTITION BY doc_id) AS n_grams
  FROM pos
), fp AS (
  SELECT DISTINCT doc_id, n_grams, mw.i AS fp_pos, mw.h AS fp_h
  FROM win WHERE frame_n = 5
), shared AS (
  SELECT fp_h FROM fp GROUP BY fp_h HAVING count(DISTINCT doc_id) >= 2
)
SELECT fp.doc_id,
       CAST(max(fp.n_grams) AS BIGINT) AS n_grams,
       CAST(count(*) AS BIGINT)        AS n_fingerprints,
       CAST(sum(CASE WHEN shared.fp_h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                                       AS n_shared
FROM fp LEFT JOIN shared ON fp.fp_h = shared.fp_h
GROUP BY fp.doc_id
""",
)
def q_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINNOWING document fingerprints — the MOSS algorithm (Schleimer,
    Wilkerson & Aiken), SURVEY §2.11 dedup/fingerprint tier: every 4-token
    gram hashes to a 64-bit integer; each window of 5 consecutive gram
    hashes selects its minimum (argmin by (hash, position) — a total
    order); the DISTINCT selected (position, hash) pairs are the doc's
    fingerprints. The guarantee that makes winnowing the plagiarism-
    detection standard: any shared run of ≥ w+k−1 tokens shares at least
    one fingerprint, while fingerprint density stays ~2/(w+1) — position-
    robust dedup at a fraction of all-grams cost. Per-doc census reports
    fingerprint count and how many are SHARED with other docs (the
    match-candidate signal).

    Scale: the window min is per-doc narrow work after one doc-keyed
    shuffle; the shared census shuffles only FINGERPRINTS (~2/(w+1) of
    grams — the whole point). Both engines evaluate the identical
    min-of-(hash,pos)-struct frames."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", T.tokens(F.col("text")).alias("ws")
    )
    s = d.filter(F.size("ws") >= 4)
    pos = s.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform(sequence(1, size(ws) - 3),"
                " i -> conv(substring(md5(concat_ws(' ', slice(ws, i, 4))), 1, 15), 16, 10))"
            )
        ).alias("p0", "hs"),
    ).select(
        "doc_id", (F.col("p0") + 1).alias("i"), F.col("hs").cast("long").alias("h")
    )
    wf = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.currentRow, 4)
    )
    wd = Window.partitionBy("doc_id")
    win = pos.select(
        "doc_id",
        "i",
        F.min(F.struct(F.col("h"), F.col("i"))).over(wf).alias("mw"),
        F.count("*").over(wf).alias("frame_n"),
        F.count("*").over(wd).alias("n_grams"),
    )
    fp = (
        win.filter(F.col("frame_n") == 5)
        .select(
            "doc_id",
            "n_grams",
            F.col("mw.i").alias("fp_pos"),
            F.col("mw.h").alias("fp_h"),
        )
        .distinct()
    )
    shared = (
        fp.groupBy("fp_h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("fp_h")
        .withColumn("is_shared", F.lit(1))
    )
    return (
        fp.join(shared, "fp_h", "left")
        .groupBy("doc_id")
        .agg(
            F.max("n_grams").cast("long").alias("n_grams"),
            F.count("*").alias("n_fingerprints"),
            F.sum(F.coalesce(F.col("is_shared"), F.lit(0))).alias("n_shared"),
        )
    )


@register("q_ann_pq", driver=False)  # rows-only: approximate candidates from PQ codes; recall pinned in pytest like q_ann_lsh
def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (SURVEY §2.11) — the third classic scale
    path after hyperplane LSH and IVF, attacking MEMORY instead of
    candidate count: deterministic per-subspace codebooks (8 subspaces ×
    16 codes, one Lloyd step from xxhash64-seeded subvectors), m-byte
    corpus codes (32× smaller than the float vectors), asymmetric-distance
    candidate generation as a pure (sub_id, code_id) equi-join + sum, and
    exact cosine re-rank of the top-64 candidates (measured recall@5 ≈
    0.75 on the fixture; 0.60 at 32 candidates — recall tunes with the
    candidate budget exactly like IVF's n_probe).

    At 100 TB: the codes table is what stays hot (a billion 64-dim vectors
    = ~8 GB of codes vs 256 GB of floats); vectors page in only for the
    final re-rank of candidate rows."""
    e = table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") % 40 == 0)
    return SIM.pq_ann_topk(
        e, queries, "embedding", "vec_id", k=5, n_candidates=64
    )


# --------------------------------------------------------------------------
# Curriculum staging (round 5)
# --------------------------------------------------------------------------
@register(
    "q_curriculum_stages",
    driver=False,  # §2.11 training-tail family (round 5) — pytest oracle
    oracle="""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS ws, n_chars FROM documents
), m AS (
  SELECT doc_id, n_chars,
         CAST(len(ws) AS BIGINT) AS n_tokens,
         round(20.0 - 15.0 * (CAST(len(list_filter(ws,
              w -> len(regexp_extract_all(w, '[aeiou]+')) = 1)) AS DOUBLE)
              / len(ws)), 3) AS grade
  FROM d WHERE len(ws) > 0
), staged AS (
  SELECT *, ntile(4) OVER (ORDER BY grade, doc_id) AS stage FROM m
)
SELECT stage,
       CAST(count(*) AS BIGINT)      AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(n_chars) AS BIGINT)  AS total_chars,
       min(grade)                    AS grade_lo,
       max(grade)                    AS grade_hi
FROM staged GROUP BY stage
""",
)
def q_curriculum_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum staging (SURVEY §2.11 training-tail, beside shard
    packing and mixture resampling): documents order by the FORCAST
    readability grade (easy → hard) and split into four curriculum stages;
    the manifest per stage is exactly what a curriculum-learning trainer
    consumes — stage sizes, token budgets, and the grade band each stage
    spans. Composes q_readability's zero-shuffle grade with one global
    ntile (the q_unigram_lm_score band discipline — cutpoints broadcast
    from approx quantiles at 100 TB, same swap).

    Scale: grade is scan-fused; the stage assignment is the only ordered
    step and the census is 4 rows."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", T.tokens(F.col("text")).alias("ws")
    )
    m = d.filter(F.size("ws") > 0).select(
        "doc_id",
        "n_chars",
        F.size("ws").cast("long").alias("n_tokens"),
        F.round(
            20.0
            - 15.0
            * (
                F.expr(
                    "size(filter(ws, w -> size(regexp_extract_all(w, '[aeiou]+', 0)) = 1))"
                ).cast("double")
                / F.size("ws")
            ),
            3,
        ).alias("grade"),
    )
    from pyspark.sql import Window as W

    staged = m.withColumn("stage", F.ntile(4).over(W.orderBy("grade", "doc_id")))
    return staged.groupBy("stage").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.min("grade").alias("grade_lo"),
        F.max("grade").alias("grade_hi"),
    )


# --------------------------------------------------------------------------
# Dataset card (round 5)
# --------------------------------------------------------------------------
@register(
    "q_dataset_card",
    driver=False,  # §2.11 governance/reporting family (round 5) — pytest oracle
    oracle="""
WITH d AS (
  SELECT doc_id, source, lang, n_chars,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         sha256(text) AS h
  FROM documents
), dup AS (
  SELECT h, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY h
)
SELECT d.source,
       CAST(count(*) AS BIGINT)                   AS n_docs,
       CAST(count(DISTINCT d.lang) AS BIGINT)     AS n_langs,
       CAST(sum(d.n_tokens) AS BIGINT)            AS total_tokens,
       CAST(sum(d.n_chars) AS BIGINT)             AS total_chars,
       round(avg(CAST(d.n_tokens AS DOUBLE)), 4)  AS mean_tokens,
       CAST(sum(CASE WHEN dup.c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS docs_in_dup_groups,
       round(sum(CASE WHEN dup.c > 1 THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6)       AS dup_rate
FROM d JOIN dup ON d.h = dup.h
GROUP BY d.source
""",
)
def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset card per source (SURVEY §2.11 governance tier, beside the
    quality/PII/k-anonymity gates): the one-table summary a datasheet /
    model card cites — doc and token volumes, language spread, and the
    exact-duplicate exposure (share of docs whose sha256 appears more than
    once corpus-wide). Composes the exact-dedup census with per-source
    rollups; every number is an exact integer or a ratio of exact integers.

    Scale: one sha-keyed shuffle for the dup census (the q_dedup_exact
    plan), one source-keyed rollup; the card is |sources| rows."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "lang",
        "n_chars",
        F.size(T.tokens(F.col("text"))).cast("long").alias("n_tokens"),
        F.sha2(F.col("text"), 256).alias("h"),
    )
    dup = d.groupBy("h").agg(F.count("*").alias("c"))
    j = d.join(dup, "h")
    in_dup = F.when(F.col("c") > 1, 1).otherwise(0)
    return j.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.round(F.avg(F.col("n_tokens").cast("double")), 4).alias("mean_tokens"),
        F.sum(in_dup).alias("docs_in_dup_groups"),
        F.round(F.sum(in_dup) / F.count("*").cast("double"), 6).alias("dup_rate"),
    )


# --------------------------------------------------------------------------
# t-closeness privacy audit (round 5 continuation — privacy wave 2)
# --------------------------------------------------------------------------
@register(
    "q_t_closeness",
    driver=False,  # §2.11 privacy audit (round 5) — pytest oracle
    oracle="""
WITH s AS (
  SELECT c_nationkey, c_mktsegment,
         (CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 200000 AS band
  FROM customer
), bands AS (
  SELECT DISTINCT band FROM s
), classes AS (
  SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS class_n
  FROM s GROUP BY 1, 2
), cb AS (
  SELECT c_nationkey, c_mktsegment, band,
         CAST(count(*) AS BIGINT) AS cnt
  FROM s GROUP BY 1, 2, 3
), grid AS (
  SELECT c.c_nationkey, c.c_mktsegment, c.class_n, b.band,
         coalesce(cb.cnt, 0) AS cnt
  FROM classes c CROSS JOIN bands b
  LEFT JOIN cb ON cb.c_nationkey = c.c_nationkey
              AND cb.c_mktsegment = c.c_mktsegment AND cb.band = b.band
), g AS (
  SELECT band, CAST(sum(cnt) AS BIGINT) AS gcnt FROM cb GROUP BY band
), tot AS (
  SELECT CAST(sum(gcnt) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS n_bands FROM g
), cums AS (
  SELECT grid.c_nationkey, grid.c_mktsegment, grid.class_n, tot.n_bands,
         sum(grid.cnt / CAST(grid.class_n AS DOUBLE))
           OVER (PARTITION BY grid.c_nationkey, grid.c_mktsegment
                 ORDER BY grid.band
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp,
         sum(g.gcnt / CAST(tot.n AS DOUBLE))
           OVER (PARTITION BY grid.c_nationkey, grid.c_mktsegment
                 ORDER BY grid.band
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cq
  FROM grid JOIN g USING (band) CROSS JOIN tot
)
SELECT c_nationkey, c_mktsegment, max(class_n) AS class_size,
       round(sum(abs(cp - cq)) / (max(n_bands) - 1), 6) AS t_closeness
FROM cums
GROUP BY c_nationkey, c_mktsegment
""",
)
def q_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li et al.) for the (nation, segment) equivalence
    classes over the banded account-balance sensitive attribute — the
    distributional strengthening of q_k_anonymity's k/l report: a class
    passes only if its sensitive-value distribution stays within t of the
    GLOBAL distribution, measured by Earth Mover's Distance. For an ordered
    attribute with unit spacing, EMD is exactly Σ|cumP−cumQ|/(B−1), so the
    whole audit is integer censuses + two cumulative windows — no solver.
    Absent bands matter (a class missing a band IS distributional skew), so
    classes cross-join the band spine (B rows, broadcast) before the
    cumulative sums; both engines add the same doubles in the same band
    order, then round at 6 dp.

    Scale: one groupBy over (class, band) metadata; the per-class windows
    partition by class (parallel); the band spine and global distribution
    broadcast. At 100 TB the audit cost is the single customer scan."""
    s = table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.expr("(cast(round(c_acctbal * 100) as long) + 100000) div 200000").alias("band"),
    )
    cb = s.groupBy("c_nationkey", "c_mktsegment", "band").agg(F.count("*").alias("cnt"))
    classes = s.groupBy("c_nationkey", "c_mktsegment").agg(F.count("*").alias("class_n"))
    bands = cb.select("band").distinct()
    g = cb.groupBy("band").agg(F.sum("cnt").alias("gcnt"))
    tot = g.agg(F.sum("gcnt").alias("n"), F.count("*").alias("n_bands"))
    grid = (
        classes.crossJoin(F.broadcast(bands))
        .join(cb, ["c_nationkey", "c_mktsegment", "band"], "left")
        .select(
            "c_nationkey",
            "c_mktsegment",
            "class_n",
            "band",
            F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"),
        )
    )
    w = (
        Window.partitionBy("c_nationkey", "c_mktsegment")
        .orderBy("band")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cums = (
        grid.join(F.broadcast(g), "band")
        .crossJoin(F.broadcast(tot))
        .select(
            "c_nationkey",
            "c_mktsegment",
            "class_n",
            "n_bands",
            F.sum(F.col("cnt") / F.col("class_n").cast("double")).over(w).alias("cp"),
            F.sum(F.col("gcnt") / F.col("n").cast("double")).over(w).alias("cq"),
        )
    )
    return cums.groupBy("c_nationkey", "c_mktsegment").agg(
        F.max("class_n").alias("class_size"),
        F.round(
            F.sum(F.abs(F.col("cp") - F.col("cq"))) / (F.max("n_bands") - 1), 6
        ).alias("t_closeness"),
    )


# --------------------------------------------------------------------------
# T5-style span corruption (round 5 continuation — denoising pretraining)
# --------------------------------------------------------------------------
@register(
    "q_span_corruption",
    driver=False,  # §2.11 LLM training-data extension (round 5) — pytest oracle
    oracle="""
WITH tok AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS w,
         unnest(range(len(string_split(text, ' ')))) AS pos
  FROM documents WHERE doc_id % 5 = 0
), m AS (
  SELECT doc_id, w, pos,
         (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' || CAST(pos AS VARCHAR)), 1, 15)
               AS BIGINT) % 100) < 15 AS masked
  FROM tok
), runs AS (
  SELECT doc_id, w, pos, masked,
         masked AND NOT coalesce(
           lag(masked) OVER (PARTITION BY doc_id ORDER BY pos), FALSE
         ) AS mask_start
  FROM m
), spans AS (
  SELECT doc_id, w, pos, masked, mask_start,
         sum(CASE WHEN mask_start THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS span_idx
  FROM runs
), pieces AS (
  SELECT doc_id, pos, masked, mask_start,
         CASE WHEN NOT masked THEN w
              WHEN mask_start THEN '<extra_id_' || CAST(span_idx AS VARCHAR) || '>'
         END AS input_piece,
         CASE WHEN mask_start THEN '<extra_id_' || CAST(span_idx AS VARCHAR) || '> ' || w
              WHEN masked THEN w
         END AS target_piece
  FROM spans
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
       CAST(sum(CASE WHEN mask_start THEN 1 ELSE 0 END) AS BIGINT) AS n_spans,
       md5(coalesce(string_agg(input_piece, ' ' ORDER BY pos), '')) AS input_md5,
       md5(coalesce(string_agg(target_piece, ' ' ORDER BY pos), '')) AS target_md5
FROM pieces
GROUP BY doc_id
""",
)
def q_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5/UL2-style span corruption: deterministically mask ~15 % of each
    document's tokens, collapse contiguous masked runs into numbered
    sentinels, and emit the (input, target) denoising pair — the
    training-example generator of an encoder-decoder pretraining pipeline
    (SURVEY §2.11 LLM curation tier, next to q_doc_chunks / q_bpe_apply).
    The mask decision is md5(doc_id|pos) % 100 — replayable in both
    engines; runs become spans by gaps-and-islands (mask-start census →
    cumulative span index); the reconstructed strings are verified by md5
    so the oracle proves EXACT string equality without hauling full texts
    through the canon. Input keeps unmasked tokens and one
    ``<extra_id_k>`` per span; target lists each sentinel followed by the
    span's tokens — byte-identical to the T5 preprocessing contract.

    Scale: posexplode + per-doc windows partition by doc_id (parallel);
    reassembly is a doc-keyed agg over position-sorted structs. One
    doc-sized shuffle end-to-end; no Python in the hot path."""
    from .experiments import _md5_int

    tok = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 5 == 0)
        .select("doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "w"))
    )
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    key = F.concat(F.col("doc_id").cast("string"), F.lit("|"), F.col("pos").cast("string"))
    m = tok.withColumn("masked", (_md5_int(key) % 100) < 15)
    runs = m.withColumn(
        "mask_start",
        F.col("masked") & ~F.coalesce(F.lag("masked").over(wdoc), F.lit(False)),
    )
    spans = runs.withColumn(
        "span_idx",
        F.sum(F.col("mask_start").cast("int"))
        .over(wdoc.rowsBetween(Window.unboundedPreceding, 0))
        - 1,
    )
    sentinel = F.concat(F.lit("<extra_id_"), F.col("span_idx").cast("string"), F.lit(">"))
    pieces = spans.select(
        "doc_id",
        "pos",
        "masked",
        "mask_start",
        F.when(~F.col("masked"), F.col("w"))
        .when(F.col("mask_start"), sentinel)
        .alias("input_piece"),
        F.when(F.col("mask_start"), F.concat(sentinel, F.lit(" "), F.col("w")))
        .when(F.col("masked"), F.col("w"))
        .alias("target_piece"),
    )

    def _joined(col: str):
        # position-ordered reassembly; array_join drops the NULL pieces,
        # mirroring string_agg's NULL-skipping
        return F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", col))),
                    lambda s: s[col],
                ),
                " ",
            )
        )

    return pieces.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.col("masked").cast("long")).alias("n_masked"),
        F.sum(F.col("mask_start").cast("long")).alias("n_spans"),
        _joined("input_piece").alias("input_md5"),
        _joined("target_piece").alias("target_md5"),
    )


# --------------------------------------------------------------------------
# Multinomial naive Bayes language classifier (round 5 continuation)
# --------------------------------------------------------------------------
@register(
    "q_naive_bayes",
    driver=False,  # §2.11 ML-eval family (round 5) — pytest oracle
    oracle="""
WITH d AS (
  SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents
), train AS (SELECT * FROM d WHERE doc_id % 5 <> 3),
test AS (SELECT * FROM d WHERE doc_id % 5 = 3),
ctc AS (
  SELECT lang, w, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT lang, unnest(ws) AS w FROM train) GROUP BY 1, 2
), nc AS (
  SELECT lang, CAST(sum(c) AS BIGINT) AS n_tok FROM ctc GROUP BY lang
), vv AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM ctc),
prior AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM train GROUP BY lang
), ptot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n FROM prior),
tf AS (
  SELECT doc_id, lang AS true_lang, w, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, lang, unnest(ws) AS w FROM test) GROUP BY 1, 2, 3
), scored AS (
  SELECT tf.doc_id, tf.true_lang, p.lang,
         sum(tf.tf * ln((coalesce(c.c, 0) + 1.0) / (nc.n_tok + vv.v))) AS loglik
  FROM tf
  CROSS JOIN prior p
  LEFT JOIN ctc c ON c.lang = p.lang AND c.w = tf.w
  JOIN nc ON nc.lang = p.lang
  CROSS JOIN vv
  GROUP BY 1, 2, 3
), full_s AS (
  SELECT s.doc_id, s.true_lang, s.lang,
         round(s.loglik + ln(p.n_docs / CAST(pt.n AS DOUBLE)), 6) AS score
  FROM scored s JOIN prior p ON p.lang = s.lang CROSS JOIN ptot pt
), pick AS (
  SELECT doc_id, true_lang, lang AS predicted, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rn
  FROM full_s
)
SELECT doc_id, true_lang, predicted, score,
       true_lang = predicted AS is_correct
FROM pick WHERE rn = 1
""",
)
def q_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive Bayes with add-one smoothing: train per-language
    token counts on 80 % of documents (doc_id % 5 ≠ 3), classify the
    held-out 20 % by argmax of log prior + Σ tf·log((c+1)/(n_c+V))
    (SURVEY §2.11 ML-eval tier — the classic bag-of-words baseline every
    text pipeline reports before anything neural). Unseen tokens take the
    smoothed floor 1/(n_c+V). The argmax runs on the 6-dp ROUNDED score
    with language as tie-break, so prediction is engine-deterministic;
    per-term log inputs are identical integer ratios in both engines
    (the q_bigram_lm_score convention).

    Scale: the model (token×class counts + class totals + priors) is
    vocabulary-sized — broadcast it against the exploded test tokens when
    it fits, else the score join shuffles on the token key (both sides
    partial-agg first, so the shuffle carries (doc, token, tf) not raw
    text). The class cross join is k=|langs| rows, always broadcast."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.split(F.col("text"), " ").alias("ws")
    )
    train = d.filter(F.col("doc_id") % 5 != 3)
    test = d.filter(F.col("doc_id") % 5 == 3)
    ctc = (
        train.select("lang", F.explode("ws").alias("w"))
        .groupBy("lang", "w")
        .agg(F.count("*").alias("c"))
    )
    nc = ctc.groupBy("lang").agg(F.sum("c").alias("n_tok"))
    vv = ctc.agg(F.count_distinct("w").alias("v"))
    prior = train.groupBy("lang").agg(F.count("*").alias("n_docs"))
    ptot = prior.agg(F.sum("n_docs").alias("n"))
    tf = (
        test.select("doc_id", F.col("lang").alias("true_lang"), F.explode("ws").alias("w"))
        .groupBy("doc_id", "true_lang", "w")
        .agg(F.count("*").alias("tf"))
    )
    from ..session import broadcast_if_small

    langs = prior.select("lang")
    scored = (
        tf.crossJoin(F.broadcast(langs))
        # the token×class model is VOCABULARY-sized — size-gate its broadcast
        # (VERDICT r4 #3); above the gate the score join shuffles on (lang, w)
        .join(broadcast_if_small(ctc), ["lang", "w"], "left")
        .join(F.broadcast(nc), "lang")
        .crossJoin(F.broadcast(vv))
        .groupBy("doc_id", "true_lang", "lang")
        .agg(
            F.sum(
                F.col("tf")
                * F.log(
                    (F.coalesce(F.col("c"), F.lit(0)) + 1.0)
                    / (F.col("n_tok") + F.col("v"))
                )
            ).alias("loglik")
        )
    )
    full_s = (
        scored.join(F.broadcast(prior), "lang")
        .crossJoin(F.broadcast(ptot))
        .select(
            "doc_id",
            "true_lang",
            "lang",
            F.round(
                F.col("loglik") + F.log(F.col("n_docs") / F.col("n").cast("double")), 6
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("lang"))
    pick = full_s.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return pick.select(
        "doc_id",
        "true_lang",
        F.col("lang").alias("predicted"),
        "score",
        (F.col("true_lang") == F.col("lang")).alias("is_correct"),
    )


# --------------------------------------------------------------------------
# Entropy l-diversity privacy audit (round 5 continuation)
# --------------------------------------------------------------------------
@register(
    "q_entropy_l_diversity",
    driver=False,  # §2.11 privacy audit (round 5) — pytest oracle
    oracle="""
WITH sens AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(floor(c_acctbal / 2000.0) AS BIGINT) AS s_bucket
  FROM customer
), cells AS (
  SELECT c_nationkey, c_mktsegment, s_bucket,
         CAST(count(*) AS BIGINT) AS c
  FROM sens GROUP BY 1, 2, 3
), cls AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(sum(c) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS distinct_l,
         sum(c * ln(CAST(c AS DOUBLE))) AS clnc
  FROM cells GROUP BY 1, 2
)
SELECT c_nationkey, c_mktsegment, n, distinct_l,
       round(ln(CAST(n AS DOUBLE)) - clnc / n, 6) AS entropy,
       round(exp(ln(CAST(n AS DOUBLE)) - clnc / n), 4) AS effective_l,
       -- flag on the ROUNDED entropy: a class whose H is exactly ln(3)
       -- (n equal singleton cells) differs by one libm ulp between JVM
       -- Math.log and glibc log, flipping the raw comparison (found by
       -- the sf0.001 sweep, round 5)
       round(ln(CAST(n AS DOUBLE)) - clnc / n, 6) < 1.098612 AS violates_l3
FROM cls
""",
)
def q_entropy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy l-diversity audit — the STRICTER criterion completing the
    privacy trio beside q_k_anonymity (distinct-count l-diversity) and
    q_t_closeness: an equivalence class over the quasi-identifiers
    (nation, market segment) satisfies entropy-l iff the Shannon entropy
    of its sensitive-attribute distribution (account-balance bands of
    $2000) is ≥ ln(l) — a class can have many distinct values yet still
    leak if one dominates, which distinct-count l misses (SURVEY §2.11
    privacy tier). Entropy assembles from exact integer cell counts via
    H = ln(n) − Σc·ln(c)/n (one log per
    DISTINCT cell, never per row), effective_l = e^H is the intuitive
    headline number, and the l=3 violation flag is computed on the
    un-rounded double so the boolean is engine-identical.

    Scale: one partial+final hash agg on (QI, sensitive), one on QI —
    both map-side-combining; output is class-count-sized."""
    sens = table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 2000.0).cast("long").alias("s_bucket"),
    )
    cells = sens.groupBy("c_nationkey", "c_mktsegment", "s_bucket").agg(
        F.count("*").alias("c")
    )
    cls = cells.groupBy("c_nationkey", "c_mktsegment").agg(
        F.sum("c").alias("n"),
        F.count("*").alias("distinct_l"),
        F.sum(F.col("c") * F.log(F.col("c").cast("double"))).alias("clnc"),
    )
    h = F.log(F.col("n").cast("double")) - F.col("clnc") / F.col("n")
    return cls.select(
        "c_nationkey",
        "c_mktsegment",
        "n",
        "distinct_l",
        F.round(h, 6).alias("entropy"),
        F.round(F.exp(h), 4).alias("effective_l"),
        # rounded-entropy flag: the exact-boundary class (H == ln 3) flips
        # on a libm ulp between engines if compared raw
        (F.round(h, 6) < 1.098612).alias("violates_l3"),
    )


# --------------------------------------------------------------------------
# Misra-Gries two-pass heavy hitters (round 5 continuation)
# --------------------------------------------------------------------------
@register(
    "q_misra_gries",
    driver=False,  # §2.11 sketch family (round 5) — pytest oracle
    oracle="""
WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM toks),
cnts AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY tok)
SELECT c.tok, c.cnt,
       round(CAST(c.cnt AS DOUBLE) / t.n, 6) AS share
FROM cnts c, tot t
WHERE c.cnt * 30 > t.n
""",
)
def q_misra_gries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries two-pass heavy hitters: every token with frequency
    > N/k (k=30) — the DETERMINISTIC-guarantee sketch beside
    q_heavy_hitters' probabilistic count-min (SURVEY §2.11 sketch
    family). Pass 1 runs the classic k-counter Misra-Gries summary
    per partition inside one Arrow mapInPandas (any item with global
    f > N/k must survive in at least one partition, by averaging — the
    standard union-of-candidates guarantee), producing a tiny candidate
    set. Pass 2 recounts ONLY the candidates exactly (semi-join BEFORE
    the shuffle, so the exchange carries candidate tokens, never the
    vocabulary) and filters by the exact integer test cnt·k > N. The
    final answer is therefore exact and engine-deterministic — the
    oracle is a plain GROUP BY ... HAVING — while the plan never
    shuffles the full token stream to a vocabulary-sized aggregation.

    Scale: pass 1 is embarrassingly parallel with k counters of state
    per task; pass 2's shuffle is bounded by (#partitions · k)
    candidates. This is THE pattern for top-talker detection at 100 TB
    where the vocabulary itself is shuffle-prohibitive."""
    import pandas as _pd

    d = table(spark, sf_dir, "documents")
    toks = d.select(F.explode(T.tokens(F.col("text"))).alias("tok"))
    k = 30

    def mg_partition(batches):
        counters: dict[str, int] = {}
        for pdf in batches:
            for tok in pdf["tok"]:
                if tok in counters:
                    counters[tok] += 1
                elif len(counters) < k:
                    counters[tok] = 1
                else:
                    dead = [t for t in counters if counters[t] == 1]
                    for t in counters:
                        counters[t] -= 1
                    for t in dead:
                        del counters[t]
        yield _pd.DataFrame({"tok": list(counters.keys())})

    cands = toks.mapInPandas(mg_partition, "tok string").distinct()
    tot = toks.agg(F.count("*").alias("n"))
    exact = (
        toks.join(F.broadcast(cands), "tok", "left_semi")
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
    )
    return (
        exact.crossJoin(F.broadcast(tot))
        .filter(F.col("cnt") * k > F.col("n"))
        .select(
            "tok",
            "cnt",
            F.round(F.col("cnt").cast("double") / F.col("n"), 6).alias("share"),
        )
    )


# --------------------------------------------------------------------------
# RAKE keyphrase extraction (round 5 continuation)
# --------------------------------------------------------------------------
_RAKE_STOP = (
    "the a an and or of to in is are was were be been it this that with "
    "for on as by at from"
).split()


@register(
    "q_rake_keyphrases",
    driver=False,  # §2.11 text-analysis family (round 5) — pytest oracle
    oracle=f"""
WITH phrases AS (
  SELECT doc_id, phrase FROM (
    SELECT doc_id,
           unnest(string_split(regexp_replace(lower(text),
             '\\b({"|".join(_RAKE_STOP)})\\b', '|', 'g'), '|')) AS raw
    FROM documents
  ), LATERAL (SELECT trim(raw) AS phrase)
  WHERE phrase <> '' AND length(string_split(phrase, ' ')) <= 3
), words AS (
  SELECT doc_id, phrase, unnest(string_split(phrase, ' ')) AS w
  FROM phrases
), wstats AS (
  SELECT w,
         CAST(count(*) AS BIGINT) AS freq,
         CAST(sum(length(string_split(phrase, ' '))) AS BIGINT) AS degree
  FROM words WHERE w <> '' GROUP BY w
), scored AS (
  SELECT p.doc_id, p.phrase,
         sum(CAST(s.degree AS DOUBLE) / s.freq) AS score
  FROM words p JOIN wstats s ON s.w = p.w
  WHERE p.w <> ''
  GROUP BY p.doc_id, p.phrase
), ranked AS (
  SELECT doc_id, phrase, round(score, 6) AS rake_score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY round(score, 6) DESC, phrase) AS rn
  FROM scored
)
SELECT doc_id, phrase, rake_score, rn AS rank
FROM ranked WHERE rn <= 3
""",
)
def q_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE (Rapid Automatic Keyword Extraction) keyphrases: split each
    document at stopwords into candidate phrases (≤ 3 words), score
    every word by degree/frequency over the corpus phrase table (degree
    = Σ lengths of phrases containing the word — co-occurrence reach;
    frequency = appearances), and rank each document's phrases by the
    sum of member-word scores — the MULTI-WORD keyphrase extractor
    beside single-term TF-IDF keywords (SURVEY §2.11 text-analysis
    tier; RAKE is the standard cheap keyphrase baseline). The top-3 cut
    ranks on the 6-dp ROUNDED score with the phrase as tie-break, so
    the selection is engine-deterministic; degree/freq are exact
    integers and each score is the same double division in both
    engines.

    Scale: phrase splitting is a scan-fused regexp; word stats are one
    vocabulary-keyed partial/final agg broadcast back (gate it with
    broadcast_if_small at open-web vocabularies); the per-doc top-3 is
    WindowGroupLimit-shaped. No raw-text re-reads."""
    from ..session import broadcast_if_small

    d = table(spark, sf_dir, "documents")
    stop_re = r"\b(" + "|".join(_RAKE_STOP) + r")\b"
    phrases = (
        d.select(
            "doc_id",
            F.explode(
                F.split(F.regexp_replace(F.lower(F.col("text")), stop_re, "|"), r"\|")
            ).alias("raw"),
        )
        .select("doc_id", F.trim(F.col("raw")).alias("phrase"))
        .filter((F.col("phrase") != "") & (F.size(F.split(F.col("phrase"), " ")) <= 3))
    )
    words = phrases.select(
        "doc_id", "phrase", F.explode(F.split(F.col("phrase"), " ")).alias("w")
    ).filter(F.col("w") != "")
    wstats = words.groupBy("w").agg(
        F.count("*").alias("freq"),
        F.sum(F.size(F.split(F.col("phrase"), " "))).alias("degree"),
    )
    scored = (
        words.join(broadcast_if_small(wstats), "w")
        .groupBy("doc_id", "phrase")
        .agg(F.sum(F.col("degree").cast("double") / F.col("freq")).alias("score"))
    )
    wr = Window.partitionBy("doc_id").orderBy(
        F.round(F.col("score"), 6).desc(), F.col("phrase")
    )
    ranked = scored.select(
        "doc_id",
        "phrase",
        F.round(F.col("score"), 6).alias("rake_score"),
        F.row_number().over(wr).alias("rank"),
    )
    return ranked.filter(F.col("rank") <= 3)


# --------------------------------------------------------------------------
# Deterministic unigram^0.75 negative sampling (round 5 continuation)
# --------------------------------------------------------------------------
@register(
    "q_negative_sampling",
    driver=False,  # §2.11 LLM-pipeline family (round 5) — pytest oracle
    oracle="""
WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
vocab AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS freq,
         pow(CAST(count(*) AS BIGINT), 0.75) AS w
  FROM toks GROUP BY tok
), cum AS (
  SELECT tok, freq, w,
         sum(w) OVER (ORDER BY tok
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c_hi,
         coalesce(sum(w) OVER (ORDER BY tok
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS c_lo
  FROM vocab
), tot AS (SELECT sum(w) AS total FROM vocab),
slots AS (
  SELECT doc_id, unnest(range(3)) AS slot FROM documents
), draws AS (
  SELECT doc_id, slot,
         (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
                              || CAST(slot AS VARCHAR)), 1, 13) AS BIGINT)
          / CAST(4503599627370496 AS DOUBLE)) * t.total AS u
  FROM slots, tot t
)
SELECT d.doc_id, d.slot, c.tok AS negative, c.freq
FROM draws d JOIN cum c ON d.u >= c.c_lo AND d.u < c.c_hi
""",
)
def q_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram^0.75 negative sampling (the word2vec / contrastive-pair
    noise distribution): 3 negatives per document drawn by inverse-CDF
    over the cumulative smoothed-frequency table, with md5(doc:slot) as
    the uniform — deterministic, RNG-free, and oracle-replayable (SURVEY
    §2.11 LLM-pipeline tier; where mined hard negatives are SEMANTIC,
    this is the FREQUENCY-matched noise every
    skip-gram/contrastive objective needs). The 13-hex md5 slice over
    2^52 is an exact dyadic rational in both engines, the cumulative
    weights are identical double sums over the SAME tok order, and the
    half-open [c_lo, c_hi) bucket match makes every draw land on exactly
    one vocab row.

    Scale: the vocab CDF is Heaps-law small (broadcast; the range join
    on [c_lo, c_hi) is a broadcast-range probe, not a shuffle). Draws
    fuse into the documents scan — u is a hash of ids. At open-web vocab
    sizes bucket the CDF into equal-width u-ranges first so the probe
    becomes an equi-join on the bucket id + one in-bucket scan."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(F.explode(T.tokens(F.col("text"))).alias("tok"))
    vocab = toks.groupBy("tok").agg(F.count("*").alias("freq"))
    vocab = vocab.select(
        "tok", "freq", F.pow(F.col("freq").cast("double"), 0.75).alias("w")
    )
    wc = Window.orderBy("tok")
    cum = vocab.select(
        "tok",
        "freq",
        F.sum("w").over(wc.rowsBetween(Window.unboundedPreceding, 0)).alias("c_hi"),
        F.coalesce(
            F.sum("w").over(wc.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0.0),
        ).alias("c_lo"),
    )
    tot = vocab.agg(F.sum("w").alias("total"))
    slots = d.select(
        "doc_id", F.explode(F.array([F.lit(i) for i in range(3)])).alias("slot")
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("doc_id").cast("string"),
                        F.lit(":"),
                        F.col("slot").cast("string"),
                    )
                ),
                1,
                13,
            ),
            16,
            10,
        ).cast("long")
        / F.lit(float(1 << 52))
    ) * F.col("total")
    draws = slots.crossJoin(F.broadcast(tot)).select("doc_id", "slot", u.alias("u"))
    return draws.join(
        F.broadcast(cum),
        (F.col("u") >= F.col("c_lo")) & (F.col("u") < F.col("c_hi")),
    ).select("doc_id", "slot", F.col("tok").alias("negative"), "freq")


# --------------------------------------------------------------------------
# Nucleus (top-p) vocabulary census (round 5 continuation)
# --------------------------------------------------------------------------
@register(
    "q_top_p_nucleus",
    driver=False,  # §2.11 LLM-pipeline family (round 5) — pytest oracle
    oracle="""
WITH tf AS (
  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS f
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
  GROUP BY 1, 2
), cum AS (
  SELECT doc_id, tok, f,
         sum(f) OVER (PARTITION BY doc_id ORDER BY f DESC, tok
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cf,
         sum(f) OVER (PARTITION BY doc_id) AS tot,
         CAST(count(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n_distinct
  FROM tf
), kept AS (
  -- nucleus: tokens up to AND INCLUDING the first row where cumulative
  -- frequency reaches 90% of the doc — exact integer test 10·cf ≥ 9·tot
  SELECT doc_id, tot, n_distinct, f, cf
  FROM cum
  WHERE 10 * (cf - f) < 9 * tot
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS nucleus_size,
       CAST(max(n_distinct) AS BIGINT) AS n_distinct,
       round(CAST(count(*) AS DOUBLE) / max(n_distinct), 6) AS nucleus_share,
       round(CAST(max(cf) AS DOUBLE) / max(tot), 6) AS coverage
FROM kept GROUP BY doc_id
""",
)
def q_top_p_nucleus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nucleus (top-p, p=0.9) vocabulary census per document: the SMALLEST
    prefix of the frequency-ranked token distribution whose cumulative
    mass reaches 90% — how concentrated each document's vocabulary is,
    the same truncation rule LLM samplers apply per step, run as a
    corpus diagnostic (SURVEY §2.11 LLM-pipeline tier; a tiny nucleus
    over many tokens flags boilerplate/repetition, complementing
    q_repetition_filter). Membership is the exact integer test
    10·(cf − f) < 9·tot — a row enters iff the mass BEFORE it is still
    short of 0.9 — over a (freq desc, token) total order per doc, so
    the census is engine-identical with no float thresholds.

    Scale: one (doc, token) partial/final agg, one doc-partitioned
    window — both shuffle on the doc key, the same shape as q_doc_stats;
    nothing global."""
    tf = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(T.tokens(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("f"))
    )
    wd = Window.partitionBy("doc_id")
    wc = wd.orderBy(F.col("f").desc(), F.col("tok")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = tf.select(
        "doc_id",
        "f",
        F.sum("f").over(wc).alias("cf"),
        F.sum("f").over(wd).alias("tot"),
        F.count("*").over(wd).alias("n_distinct"),
    )
    kept = cum.filter(10 * (F.col("cf") - F.col("f")) < 9 * F.col("tot"))
    return kept.groupBy("doc_id").agg(
        F.count("*").alias("nucleus_size"),
        F.max("n_distinct").cast("long").alias("n_distinct"),
        F.round(F.count("*").cast("double") / F.max("n_distinct"), 6).alias(
            "nucleus_share"
        ),
        F.round(F.max("cf").cast("double") / F.max("tot"), 6).alias("coverage"),
    )


# --------------------------------------------------------------------------
# DSIR — data selection with importance resampling (round 6)
# --------------------------------------------------------------------------
@register(
    "q_dsir_select",
    driver=False,  # §2.11 curation tier — pytest oracle
    oracle="""
WITH w AS (
  SELECT doc_id, source, unnest(string_split(text, ' ')) AS word
  FROM documents
), b AS (
  SELECT doc_id, source,
         CAST(('0x' || substr(md5(word), 1, 15)) AS BIGINT) % 256 AS bkt
  FROM w WHERE word <> ''
), tot AS (
  SELECT CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS nt,
         CAST(sum(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS nr
  FROM b
), lr AS (
  SELECT bkt,
         CAST(round((ln((sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) + 1.0)
                        / (nt + 256.0))
                     - ln((sum(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END) + 1.0)
                          / (nr + 256.0))) * 1000000) AS BIGINT) AS lr_micro
  FROM b CROSS JOIN tot
  GROUP BY bkt, nt, nr
), docb AS (
  SELECT doc_id, bkt, CAST(count(*) AS BIGINT) AS c
  FROM b WHERE source <> 'src0'
  GROUP BY doc_id, bkt
), wgt AS (
  SELECT doc_id, CAST(sum(c * lr_micro) AS BIGINT) AS weight_micro
  FROM docb JOIN lr USING (bkt)
  GROUP BY doc_id
)
SELECT doc_id, weight_micro,
       round(weight_micro / 1000000.0, 6) AS log_weight
FROM wgt
ORDER BY weight_micro DESC, doc_id
LIMIT 20
""",
)
def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, SURVEY §2.11 curation
    tier): score every raw-corpus document by how target-domain-like its
    hashed word distribution is, and keep the top-k. Words hash into 256
    buckets (the portable 60-bit md5 idiom); the target domain here is
    ``source = 'src0'``; Laplace-smoothed bucket log-ratios
    ln(p_tgt/q_raw) are quantized to integer MICRO-units so each doc's
    weight Σ c_b·lr_b is an EXACT int64 sum — order-independent across
    engines (the exact-integer discipline applied to a log-likelihood ratio;
    a raw double dot product over 256 buckets drifts at the 6th decimal).

    Scale: the bucket table is 256 rows → broadcast; scoring is one
    doc-bucket groupBy + a broadcast join + one partial-agg sum per doc
    (no shuffle of the corpus text); top-k is TakeOrdered. The real DSIR
    uses 10k hashed bigram buckets and importance RESAMPLING instead of
    top-k — both swaps are parameter changes, not plan changes. Weight
    bound: |lr_micro| ≤ ln(nr)·1e6 ≈ 2e7, c ≤ doc words, Σ ≪ 2^63."""
    d = table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", "source", F.explode(F.split(F.col("text"), " ")).alias("word")
    ).filter(F.col("word") != "")
    b = words.select(
        "doc_id",
        "source",
        (F.conv(F.substring(F.md5("word"), 1, 15), 16, 10).cast("long") % 256).alias(
            "bkt"
        ),
    )
    is_t = F.when(F.col("source") == "src0", 1).otherwise(0)
    per_bkt = b.groupBy("bkt").agg(
        F.sum(is_t).cast("long").alias("ct"),
        F.sum(1 - is_t).cast("long").alias("cr"),
    )
    tot = b.agg(
        F.sum(is_t).cast("long").alias("nt"), F.sum(1 - is_t).cast("long").alias("nr")
    )
    lr = per_bkt.crossJoin(F.broadcast(tot)).select(
        "bkt",
        F.round(
            (
                F.log((F.col("ct") + 1.0) / (F.col("nt") + 256.0))
                - F.log((F.col("cr") + 1.0) / (F.col("nr") + 256.0))
            )
            * 1000000
        )
        .cast("long")
        .alias("lr_micro"),
    )
    docb = (
        b.filter(F.col("source") != "src0")
        .groupBy("doc_id", "bkt")
        .agg(F.count("*").alias("c"))
    )
    wgt = (
        docb.join(F.broadcast(lr), "bkt")
        .groupBy("doc_id")
        .agg(F.sum(F.col("c") * F.col("lr_micro")).cast("long").alias("weight_micro"))
    )
    return (
        wgt.select(
            "doc_id",
            "weight_micro",
            F.round(F.col("weight_micro") / 1000000.0, 6).alias("log_weight"),
        )
        .orderBy(F.col("weight_micro").desc(), "doc_id")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Sequence packing — greedy context-window bin fill (round 6)
# --------------------------------------------------------------------------
@register(
    "q_sequence_pack",
    driver=False,  # §2.11 training-data export tier — pytest oracle
    oracle="""
WITH RECURSIVE d AS MATERIALIZED (
  -- MATERIALIZED: inlined, DuckDB re-evaluates this CTE every recursion
  -- round (the q_cycle_nodes sf1 hang class); the hint pins one evaluation
  SELECT doc_id % 8 AS shard, doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
  FROM documents
), step AS (
  SELECT shard, doc_id, n_tok, rn,
         CAST(0 AS BIGINT) AS bin_idx, n_tok AS fill
  FROM d WHERE rn = 1
  UNION ALL
  SELECT d.shard, d.doc_id, d.n_tok, d.rn,
         CASE WHEN s.fill + d.n_tok > 512 THEN s.bin_idx + 1 ELSE s.bin_idx END,
         CASE WHEN s.fill + d.n_tok > 512 THEN d.n_tok ELSE s.fill + d.n_tok END
  FROM step s JOIN d ON d.shard = s.shard AND d.rn = s.rn + 1
)
SELECT shard, bin_idx,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM step GROUP BY shard, bin_idx
""",
)
def q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (SURVEY §2.11 training-data export tier): greedy
    first-fit of documents into 512-token context windows WITHOUT
    splitting — the step every LLM training pipeline runs between
    curation and batching (padding waste → near-zero). Docs are sharded
    by ``doc_id % 8`` and packed in doc_id order within a shard; a bin
    closes when the next doc would overflow it (an oversized doc takes a
    bin alone). The recurrence is inherently sequential, so the Spark
    side is a per-shard ``applyInPandas`` scan — Arrow-batched, one
    partition per shard, embarrassingly parallel ACROSS shards — and the
    DuckDB oracle replays the identical greedy walk as a recursive CTE.

    Unlike q_corpus_pack (size-balanced shard assignment), this is the
    TOKEN-BUDGET bin fill: output is per-bin occupancy, the direct input
    to a fixed-length batch writer.

    Scale: sequentiality is per shard, so shard count = parallelism knob;
    at 100 TB shards come from the curation pipeline's existing
    partitioning and each executor packs its shards in one pass —
    O(docs/shards) memory, no shuffle beyond the shard exchange."""
    import pandas as pd

    d = table(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 8).alias("shard"),
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tok"),
    )

    CAP = 512

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        rows = []
        bin_idx, fill = 0, 0
        first = True
        for doc_id, n_tok in zip(pdf["doc_id"], pdf["n_tok"]):
            if not first and fill + n_tok > CAP:
                bin_idx += 1
                fill = 0
            first = False
            fill += n_tok
            rows.append((int(pdf["shard"].iloc[0]), bin_idx, int(doc_id), int(n_tok)))
        out = pd.DataFrame(rows, columns=["shard", "bin_idx", "doc_id", "n_tok"])
        g = out.groupby(["shard", "bin_idx"], as_index=False).agg(
            n_docs=("doc_id", "size"),
            sum_tokens=("n_tok", "sum"),
            first_doc=("doc_id", "min"),
            last_doc=("doc_id", "max"),
        )
        return g

    schema = (
        "shard long, bin_idx long, n_docs long, sum_tokens long, "
        "first_doc long, last_doc long"
    )
    return d.groupBy("shard").applyInPandas(pack, schema=schema)


# --------------------------------------------------------------------------
# Crypto-shredding — right-to-be-forgotten without corpus rewrite (round 6)
# --------------------------------------------------------------------------
@register(
    "q_crypto_shred",
    driver=False,  # §2.11 privacy tier — pytest oracle
    oracle="""
WITH reg AS (
  SELECT c_custkey AS k,
         md5('k:' || CAST(c_custkey AS VARCHAR)) AS salt
  FROM customer WHERE c_custkey % 13 <> 0
), tok AS (
  SELECT c.c_mktsegment,
         CASE WHEN r.salt IS NOT NULL
              THEN md5(r.salt || ':' || c.c_name) END AS token
  FROM customer c LEFT JOIN reg r ON c.c_custkey = r.k
)
SELECT c_mktsegment AS seg,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(CASE WHEN token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_forgotten,
       CAST(count(DISTINCT token) AS BIGINT) AS n_tokens,
       min(token) AS anchor_token
FROM tok GROUP BY c_mktsegment
""",
)
def q_crypto_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crypto-shredding (SURVEY §2.11 privacy tier, beside k-anonymity /
    PII scrub / DP counts): PII is stored only as a KEYED token
    md5(salt‖name) where each user's salt lives in a separate key
    registry; the right to be forgotten is exercised by DELETING the
    registry row (here: custkey % 13 = 0 simulates the erased keys) — the
    corpus itself never rewrites, tokens of forgotten users become
    permanently unlinkable, and the read path surfaces them as NULL via
    one left join. md5 stands in for the keyed cipher: the PATTERN under
    audit is registry-join + tokenize + forget-by-key-delete, which is
    cipher-agnostic.

    Why at 100 TB: a GDPR erasure under rewrite costs a copy-on-write
    pass per request (q_lake_delete_vectors is the per-ROW answer);
    crypto-shredding makes erasure O(1) metadata — the registry is
    |users| rows against a corpus of trillions, and the same lake
    snapshot stays byte-identical and auditable."""
    c = table(spark, sf_dir, "customer")
    reg = c.filter(F.col("c_custkey") % 13 != 0).select(
        F.col("c_custkey").alias("k"),
        F.md5(F.concat(F.lit("k:"), F.col("c_custkey").cast("string"))).alias(
            "salt"
        ),
    )
    tok = c.join(reg, c.c_custkey == reg.k, "left").select(
        "c_mktsegment",
        F.when(
            F.col("salt").isNotNull(),
            F.md5(F.concat(F.col("salt"), F.lit(":"), F.col("c_name"))),
        ).alias("token"),
    )
    return tok.groupBy(F.col("c_mktsegment").alias("seg")).agg(
        F.count("*").alias("n_total"),
        F.sum(F.when(F.col("token").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_forgotten"),
        F.countDistinct("token").alias("n_tokens"),
        F.min("token").alias("anchor_token"),
    )


# --------------------------------------------------------------------------
# Hashing-trick featurizer (round 7)
# --------------------------------------------------------------------------
@register(
    "q_hashed_tf_vectors",
    driver=False,  # rotated off r11 (wave 6) — stays oracle-backed in the local sweep
    # driver slot r8-r10 (VERDICT r7 #1), rotated off r11 (wave 6): hashed feature vectorization
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w
  FROM documents WHERE doc_id % 10 = 0
), hashed AS (
  SELECT doc_id,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
                        list_transform(string_split(w, ''),
                                       c -> CAST(ascii(c) AS BIGINT))),
           (acc, c) -> (acc * 31 + c) % 1048573
         ) % 256 AS bucket
  FROM toks
)
SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS cnt
FROM hashed GROUP BY doc_id, bucket
""",
)
def q_hashed_tf_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurizer: every token folds through a PORTABLE
    polynomial hash (acc·31 + ascii(c) mod 1048573 — pure integer
    arithmetic both engines compute bit-identically, unlike xxhash64/
    murmur which exist in only one engine) into 256 buckets; the output is
    the sparse (doc, bucket, count) term-frequency vector — the
    fixed-width, vocabulary-free text representation linear classifiers
    train on (SURVEY §2.11 feature tier; q_feature_hashing audits the
    slot-collision trade of the same trick —
    sampled to doc_id mod 10 = 0 to bound the vector table). Collisions
    are part of the trick's contract, and because the hash is
    deterministic they collide IDENTICALLY in both engines — the oracle
    hash pins the whole pipeline, not just the counts.

    Scale: the fold is whole-stage-codegen expression work per token (no
    UDF); one (doc, bucket) partial+final shuffle builds the vectors;
    output is ≤ 256 rows per doc. At 100 TB widen buckets to 2^18-2^20
    (the standard ~1M-feature hashing space) — same plan."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    toks = d.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("w"))
    hashed = toks.select(
        "doc_id",
        (
            F.expr(
                "aggregate(split(w, ''), 0L,"
                " (acc, c) -> (acc * 31 + ascii(c)) % 1048573)"
            )
            % 256
        ).alias("bucket"),
    )
    return hashed.groupBy("doc_id", F.col("bucket").cast("long").alias("bucket")).agg(
        F.count("*").cast("long").alias("cnt")
    )
