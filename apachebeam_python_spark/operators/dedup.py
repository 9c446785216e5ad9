"""Deduplication operators for LLM-corpus pipelines (SURVEY.md §2.11).

Scale design (the 100 TB story, per variant):
- **exact**: sha256(text) → hash-groupBy. One shuffle on the 32-byte key;
  combiner-lifted counts. Works at any scale.
- **fingerprint**: md5(prefix) clustering — same shape, weaker key.
- **minhash LSH**: shingle → 2×b minhash signature → b bands → shuffle on
  (band, band-signature) buckets → pair only within buckets → verify exact
  Jaccard on candidates. The cross-doc comparison count drops from O(n²) to
  O(Σ bucket²); bands/rows trade recall vs cost. Pure DataFrame ops
  (xxhash64 + groupBy), no MLlib dependency, no driver collection.
- **n-gram Jaccard (exact)**: gram-explode → self-join on gram → shared
  counts → Jaccard filter. Exact but gram-frequency-bounded; at 100 TB run it
  only on LSH candidates (minhash_lsh_pairs' verify step does this).
- **simhash**: 64-bit signature from token hashes; near-dups = small Hamming
  distance; bucket by signature bands to avoid n².
- **embedding near-dup**: cosine ≥ τ pairs; brute force for small n, LSH
  (similarity.lsh_buckets) at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as T
from ..functions import vectors as V
from ..session import checkpoint, fan_out

#: persisted signature tables awaiting release — see
#: :func:`release_signature_caches` (VERDICT r2 #7: no cache entry should
#: outlive its query silently; long-lived sessions call release, batch jobs
#: pass ``checkpoint_dir`` and skip caching entirely).
_SIG_CACHES: list[DataFrame] = []


def register_cache(df: DataFrame) -> DataFrame:
    """Persist ``df`` and enroll it for :func:`release_signature_caches` —
    the shared lifecycle for any operator that SELF-JOINS an expensive
    subtree (minhash signature tables; the setsim rarity-ranked prefix
    table, r10): Spark plans a self-join as two full copies of the input
    subtree, so without a persist the window/aggregation work runs twice.
    MEMORY_AND_DISK (the persist default), so an oversized table degrades
    to disk instead of evicting the executors' working memory."""
    df = df.persist()
    _SIG_CACHES.append(df)
    return df


def release_signature_caches() -> int:
    """Unpersist every table enrolled by :func:`register_cache` (minhash
    signatures, setsim prefix tables, …) since the last release. Returns
    how many were dropped. Call after the query's result is materialized
    (the cache is only useful DURING the action that computes candidates +
    verify from the same subtree)."""
    n = 0
    while _SIG_CACHES:
        _SIG_CACHES.pop().unpersist()
        n += 1
    return n


def exact_dedup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup: one row per distinct content hash with the kept (min) id
    and the number of copies."""
    return (
        df.withColumn("content_sha256", T.content_hash(F.col(text_col)))
        .groupBy("content_sha256")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies"))
    )


def incremental_new_rows(new_df: DataFrame, snapshot_df: DataFrame, text_col: str) -> DataFrame:
    """Incremental (cross-snapshot) dedup: keep only the rows of ``new_df``
    whose content hash does NOT already exist in ``snapshot_df`` — the
    continuous-crawl situation where each ingest batch must be deduped
    against the accumulated corpus, not just against itself.

    Exact form: LEFT ANTI join on sha256(text). At 100 TB the snapshot side
    is the big one, so the anti-join hash-shuffles both sides on the digest —
    one shuffle, combiner-free, and the snapshot can be pre-bucketed by
    digest (sources/layout.write_bucketed) to make every future ingest
    zero-shuffle on the snapshot side. Spark's runtime bloom-filter
    injection (proven in tests/test_scale_patterns.py) additionally
    prefilters the scan when the batch is much smaller than the snapshot —
    the classic bloom-then-verify shape without hand-building the filter.
    """
    snap = snapshot_df.select(T.content_hash(F.col(text_col)).alias("content_sha256")).distinct()
    return new_df.withColumn("content_sha256", T.content_hash(F.col(text_col))).join(
        snap, "content_sha256", "left_anti"
    )


def fingerprint_groups(df: DataFrame, text_col: str, id_col: str, prefix_tokens: int = 8) -> DataFrame:
    """Prefix-fingerprint clustering (rolling-hash-style cheap key)."""
    return (
        df.withColumn("fp", T.fingerprint(F.col(text_col), prefix_tokens))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_docs"),
            F.array_sort(F.collect_list(id_col)).alias("doc_ids"),
        )
    )


_MAX_LONG = (1 << 63) - 1

#: fuzzy_pairs' default blocking prefix length; also the length stripped
#: from the per-pair levenshtein comparison (lossless: block equality
#: guarantees the prefix matches — see fuzzy_pairs r11 note)
_PREFIX_BLOCK_LEN = 15


def _minhash_signature_sql(shingle_col: str, num_hashes: int) -> str:
    """num_hashes min-hashes: min over shingles of xxhash64(shingle, seed i).

    Single fold over the shingle array (per shingle: num_hashes xxhash64
    calls, element-wise min into the accumulator) — one traversal instead of
    num_hashes traversals, and xxhash64 is a JVM built-in so the whole
    signature stays inside codegen. Works over string shingles or (much
    faster) 64-bit hashed grams: xxhash64 over a long is one fixed 8-byte
    round vs a variable-length string walk per hash.

    Built as SQL text for CONSTRUCTION latency: the JVM parses it once,
    where the Column-API form costs py4j round trips per node (see
    CLAUDE.md, "wide expressions")."""
    hashes = ", ".join(f"xxhash64(s, {i})" for i in range(num_hashes))
    return (
        f"aggregate(`{shingle_col}`, "
        f"array_repeat(CAST({_MAX_LONG} AS BIGINT), {num_hashes}), "
        f"(acc, s) -> zip_with(acc, array({hashes}), (a, b) -> least(a, b)))"
    )


def _hashed_grams_sql(text_col: str, n: int) -> str:
    """Per-doc distinct n-gram set as 64-bit hashes: one seed-chained
    ``xxhash64(word_i, …, word_{i+n-1})`` per gram — no shingle STRING is
    ever built (the round-2 profile showed concat allocation + 32 string
    hashes per gram dominating the whole minhash pipeline). Set sizes and
    intersections equal the string-gram ones unless xxhash64 collides
    within a compared pair's gram sets (~m²·2⁻⁶⁴ for m grams — negligible
    at any corpus size that fits in a cluster)."""
    w = f"split(`{text_col}`, ' ')"
    words = ", ".join(f"element_at({w}, i + {j})" for j in range(n))
    return (
        f"CASE WHEN `{text_col}` IS NULL THEN CAST(NULL AS array<bigint>) "
        f"WHEN size({w}) >= {n} THEN "
        f"array_distinct(transform(sequence(1, size({w}) - {n - 1}), "
        f"i -> xxhash64({words}))) "
        f"ELSE array() END"
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    shingle_n: int = 2,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs.

    Pipeline: hashed grams per doc (narrow; no shingle strings are ever
    built — one seed-chained xxhash64 per gram) → minhash fold →
    ``bands`` band buckets, each a seed-chained xxhash64 fold over the
    band's signature slice (longs only) → docs sharing any (band, bucket)
    become candidates (the one shuffle that sees all docs, carrying just
    ids+buckets) → exact gram-Jaccard verify ≥ threshold on the (much
    smaller) candidate set.

    Round-3 perf notes (VERDICT r2 #2, profiled at sf0.1):
    - the round-2 ``filter(size(shingles) > 0)`` was 8× the cost of the
      whole gram pipeline: Catalyst pushes the filter below the project,
      so the full hash expression evaluated twice, outside codegen. The
      guard is now a cheap word-count predicate at the scan.
    - shingle STRINGS (concat per gram + 32 string hashes) were replaced
      by 64-bit hashed grams; an explode + 32-column min-agg variant was
      benchmarked and rejected (slower than the fold, plus a shuffle).

    Gram-table lifecycle (it feeds three consumers — signatures + both
    verify sides): with ``checkpoint_dir`` the table is written to parquet
    under it and read back — the production shape at 100 TB (explicit
    lifetime, resumable, no executor memory pinned; the caller owns the
    directory). Without it the table is cached and registered for
    :func:`release_signature_caches`, which the caller should invoke once
    the result is materialized."""
    if not (0 < bands <= num_hashes) or num_hashes % bands != 0:
        raise ValueError(
            f"minhash_lsh_pairs: bands={bands} must evenly divide "
            f"num_hashes={num_hashes} (bands > num_hashes would degenerate "
            "every bucket to a constant → all-pairs O(n²))"
        )
    rows = num_hashes // bands
    df = fan_out(df)  # gram+signature CPU dominates; parallelize small-file inputs
    grams = (
        # gram-less docs (< n tokens) all share the identity signature —
        # they'd spuriously pair with each other and 0/0 the verify step.
        # Filter on the cheap word-count predicate, NOT on size(grams):
        # a filter over the gram expression gets pushed below the project,
        # evaluating the whole hash pipeline twice OUTSIDE codegen —
        # profiled 8× slower (round 3)
        df.filter(
            F.col(text_col).isNotNull()
            & (F.size(F.split(F.col(text_col), " ")) >= shingle_n)
        ).select(
            F.col(id_col).alias("doc_id"),
            F.expr(_hashed_grams_sql(text_col, shingle_n)).alias("grams"),
        )
    )
    sigs = grams.withColumn(
        "sig", F.expr(_minhash_signature_sql("grams", num_hashes))
    )
    # materialize the gram+signature table once (O(docs × grams) longs);
    # see the lifecycle note in the docstring
    if checkpoint_dir is not None:
        path = f"{checkpoint_dir}/minhash_grams"
        sigs.write.mode("overwrite").parquet(path)
        sigs = df.sparkSession.read.parquet(path)
    else:
        sigs = sigs.persist()
        _SIG_CACHES.append(sigs)

    banded = sigs.select(
        "doc_id",
        # band bucket = seed-chained xxhash64 over the band's signature
        # slice (longs, no string building)
        F.expr(
            f"explode(transform(sequence(0, {bands - 1}), b -> struct("
            f"CAST(b AS INT) AS band, "
            f"xxhash64(b, aggregate(slice(sig, b * {rows} + 1, {rows}), "
            f"CAST(42 AS BIGINT), (h, x) -> xxhash64(h, x))) AS bucket)))"
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")

    # pair generation stays NARROW (ids only) — the gram arrays would
    # otherwise ride through the bucket join and the dedup shuffle; they are
    # joined back only for the (much smaller) candidate set.
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sh = sigs.select("doc_id", "grams")
    cand = (
        cand.join(sh.select(F.col("doc_id").alias("doc_a"), F.col("grams").alias("sh_a")), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"), F.col("grams").alias("sh_b")), "doc_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    return (
        cand.withColumn("jaccard", F.round(F.when(union > 0, inter / union).otherwise(0.0), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def ngram_jaccard_candidates(
    grams: DataFrame, counts: DataFrame, threshold: float
) -> DataFrame:
    """PPJoin-family prefix-filtered candidate pairs over a distinct
    ``(doc_id, gram)`` table (SURVEY §2.11; exposed for the pruning test).

    Pigeonhole (lossless): jaccard(A, B) ≥ t ⇒ |A∩B| ≥ t·max(|A|, |B|), so
    under ANY shared total order of grams the pair must collide inside each
    doc's rarity-ordered prefix of length |s| − ⌈t·|s|⌉ + 1. Rarity order is
    the (df, gram) tuple itself — no global rank table is materialized; the
    per-doc prefix is one row_number window over a doc-keyed sort.

    Scale: candidate fan-out is Σ df(prefix-token)² over RARE tokens only —
    orders of magnitude below the raw shared-gram self-join, whose fan-out
    is dominated by stop-word grams (VERDICT r3 #1)."""
    dfreq = grams.groupBy("gram").agg(F.count("*").alias("df"))
    # Gram interning (VERDICT r11 #4) was implemented in r12 — dense_rank
    # over the (df, gram) rarity order, a collision-free monotone bijection
    # to ints, prefix windows and the pair join re-keyed on gid — proven
    # pair-set-identical at sf0.01/sf0.1, and REVERTED on A/B evidence
    # (BENCH_AB_r12_gram_intern.json): the full query measured 0.061×
    # (7.8 → 128.8 s; the single-partition rank sort re-shapes the plan
    # under the verify joins) and the candidate stage alone 0.73×
    # (5.5 → 7.5 s) — the global rank sort plus the extra dfreq exchange
    # cost more than the narrower sort keys and join payload save at any
    # measured scale. Floor declared for the candidate stage's key
    # representation; re-test only if a profiled run shows the window
    # sorts (not the joins) dominating.
    w = Window.partitionBy("doc_id").orderBy("df", "gram")
    # FP-safety (round-4 review finding #3): losslessness only breaks if a
    # bound errs in the PRUNING direction. ceil(t·n) can round UP past the
    # exact rational (ceil(0.07·100) → 8, true 7) shortening the prefix, and
    # t·max can round up past least — both fixed by an ε ≫ double-ulp but ≪
    # 1 count, which can only LENGTHEN the prefix / loosen the length gate
    # (extra candidates are harmless; the exact verify discards them).
    eps = 1e-9
    pref = (
        grams.join(dfreq, "gram")
        .join(counts, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(
            F.col("rn")
            <= F.col("n_grams")
            - F.ceil(F.lit(threshold) * F.col("n_grams") - eps)
            + 1
        )
    )
    # persist across the self-join (r10b, the setsim_candidates lesson):
    # Spark plans pref JOIN pref as two copies of the df-count join + rank
    # window subtree; register_cache shares one materialization under the
    # release_signature_caches lifecycle. Projected to the four columns
    # the pair join reads (r12) so the cache holds no dead df column.
    pref = register_cache(pref.select("doc_id", "n_grams", "rn", "gram"))
    # overlap threshold α = ⌈t/(1+t)·(pa+pb)⌉, ε-loosened in the same
    # direction discipline as above (an extra candidate is harmless; a
    # dropped one breaks exactness)
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("pa") + F.col("pb"))
        - eps
    )
    # position filter (r10, PPJoin — valid because shingles() is DISTINCT
    # per doc): both docs' grams share the (df, gram) total order, so a
    # shared gram at ranks (ra, rb) bounds the overlap by
    # least(ra, rb) + least(pa−ra, pb−rb); every row of a TRUE pair
    # satisfies bound ≥ overlap ≥ α, so per-row pruning loses nothing
    pos_bound = F.least(F.col("ra"), F.col("rb")) + F.least(
        F.col("pa") - F.col("ra"), F.col("pb") - F.col("rb")
    )
    return (
        pref.select(
            F.col("doc_id").alias("doc_a"), F.col("n_grams").alias("pa"),
            F.col("rn").alias("ra"), "gram",
        )
        .join(
            pref.select(
                F.col("doc_id").alias("doc_b"), F.col("n_grams").alias("pb"),
                F.col("rn").alias("rb"), "gram",
            ),
            "gram",
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        # length filter (also lossless): jaccard ≥ t ⇒ t·max(|A|,|B|) ≤ min(|A|,|B|)
        .filter(
            F.least("pa", "pb").cast("double")
            >= F.lit(threshold) * F.greatest("pa", "pb") - eps
        )
        .filter(pos_bound >= alpha)
        .select("doc_a", "doc_b")
        .distinct()
    )


def ngram_jaccard_pairs(df: DataFrame, text_col: str, id_col: str, *, shingle_n: int = 2, threshold: float = 0.5) -> DataFrame:
    """Exact n-gram Jaccard pairs (SQL-portable, oracle-checkable), with
    candidate pairs from the LOSSLESS PPJoin rarity-ordered prefix filter
    (:func:`ngram_jaccard_candidates`) and the exact-Jaccard scoring join run
    on candidates only — identical rows to the raw shared-gram self-join at
    df-bounded fan-out (VERDICT r3 #1; losslessness + pruning pinned in
    tests/test_dedup_scale_paths.py).

    Scale: three gram-/doc-keyed shuffles; the gram explode is built once
    (session.checkpoint) and shared by df table, sizes, prefix join, and
    both verify sides. At 100 TB SPARK_GRAFT_DURABLE_CHECKPOINT turns the
    same cut into a parquet write-through of the gram table; for approximate
    recall at even lower cost use minhash_lsh_pairs (same verify step)."""
    # lazy checkpoint (round-4 review finding #7): still plans the explode
    # subtree once for all consumers, but materializes on the query's FIRST
    # ACTION instead of at build time — merely constructing the DataFrame
    # (driver enumeration, plan inspection) stays free
    grams = checkpoint(
        fan_out(df).select(
            F.col(id_col).alias("doc_id"),
            F.explode(T.shingles(F.col(text_col), shingle_n)).alias("gram"),
        ),
        eager=False,
    )
    counts = grams.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    cand = ngram_jaccard_candidates(grams, counts, threshold)
    # verify on per-doc gram SETS, not exploded gram rows (r11, the
    # q_setsim_join array_intersect lever ported): the exploded verify
    # shipped |candidates| × grams-per-doc ROWS through two joins and a
    # groupBy — profiled at sf0.1, 5.47M candidates × ~51 grams ≈ 280M
    # join rows, ~41 s of a 44 s query. One doc-keyed agg rebuilds the
    # sets (shingles are array_distinct, so collect_list == the set and
    # size(gset) == n_grams), the candidate pairs never re-explode, and
    # shared = size(array_intersect) — identical integers, JVM-side. At
    # 100 TB the set table shuffles on doc_id when it outgrows broadcast;
    # each doc's set then crosses once per candidate instead of once per
    # (candidate, gram).
    sets_ = grams.groupBy("doc_id").agg(F.collect_list("gram").alias("gset"))
    sa = sets_.select(F.col("doc_id").alias("doc_a"), F.col("gset").alias("ga"))
    sb = sets_.select(F.col("doc_id").alias("doc_b"), F.col("gset").alias("gb"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("shared", F.size(F.array_intersect("ga", "gb")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("shared")
                / (F.size("ga") + F.size("gb") - F.col("shared")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def ngram_containment_pairs(
    df: DataFrame, text_col: str, id_col: str, *, shingle_n: int = 2, threshold: float = 0.6
) -> DataFrame:
    """Exact n-gram CONTAINMENT pairs: score = |A∩B| / min(|A|, |B|) — the
    asymmetric near-dup measure that catches a document EMBEDDED in a
    larger one (quote farms, wrapper boilerplate, article + commentary),
    which symmetric Jaccard dilutes: a 100-gram doc fully contained in a
    1000-gram doc scores containment 1.0 but Jaccard 0.1. Same plan shape
    as :func:`ngram_jaccard_pairs` (gram-explode equi-join, quadratic in
    per-gram document frequency) — at 100 TB run it on LSH candidates,
    i.e. take the pair source from minhash_lsh_pairs' banded candidates
    and keep this scoring join."""
    # lazy lineage cut (r10b): counts + BOTH self-join sides consume the
    # explode — without it the shingle subtree plans three times
    grams = checkpoint(
        fan_out(df).select(
            F.col(id_col).alias("doc_id"),
            F.explode(T.shingles(F.col(text_col), shingle_n)).alias("gram"),
        ),
        eager=False,
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
    return (
        shared.join(ca, "doc_a")
        .join(cb, "doc_b")
        .withColumn(
            "containment",
            F.round(F.col("shared") / F.least("na", "nb"), 6),
        )
        .filter(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", "containment")
    )


def simhash(df: DataFrame, text_col: str, id_col: str, bits: int = 64) -> DataFrame:
    """64-bit SimHash: per token, xxhash64 supplies the bit pattern; each bit
    votes ±1; the signature is the sign vector packed to a long. All
    expression-level (explode + groupBy + bit ops). The per-bit vote
    aggregates and the signature OR are SQL text (CLAUDE.md, "wide
    expressions")."""
    toks = fan_out(df).select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(T.tokens(F.col(text_col)))).alias("tok"),
    ).withColumn("h", F.xxhash64("tok"))
    votes = toks.groupBy("doc_id").agg(
        *[
            F.expr(f"sum(CASE WHEN (shiftright(h, {i}) & 1) = 1 THEN 1 ELSE -1 END) AS b{i}")
            for i in range(bits)
        ]
    )
    sig = "CAST(0 AS BIGINT)"
    for i in range(bits):
        sig = (
            f"({sig} | CASE WHEN b{i} > 0 THEN shiftleft(CAST(1 AS BIGINT), {i}) "
            f"ELSE CAST(0 AS BIGINT) END)"
        )
    return votes.select("doc_id", F.expr(f"{sig} AS simhash"))


def simhash_neardup_pairs(df: DataFrame, text_col: str, id_col: str, *, max_hamming: int = 3, band_bits: int = 16) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ max_hamming. Pigeonhole
    banding: a pair within the radius must share at least one band, so
    band-bucket collisions are a COMPLETE candidate set whenever the band
    count exceeds ``max_hamming``. ``band_bits`` keeps its contract as the
    requested granularity floor (validated below, same as always); the
    ACTUAL banding is the minimal-complete one (r12):

    - **max_hamming+1 bands of near-equal width** partitioning all 64
      bits — the fewest (hence widest, hence most selective) bands that
      are still complete: ≤ max_hamming differing bits can spoil at most
      max_hamming of them, so ≥ 1 band always matches. At the old
      defaults (radius 3, 16-bit bands) this derives the identical 4×16
      layout; at radius 12 it derives 13 bands (12×5 + 1×4 bits) instead
      of 16×4 — measured 82M → ~29M candidate incidences at sf0.1, same
      output by completeness.
    - **first-matching-band emission** instead of dropDuplicates: a pair
      sharing k bands was enumerated k times and deduped through an
      exchange carrying EVERY candidate (82M rows at sf0.1, ~20 s —
      guide §2.3: never shuffle what a filter can drop in-stage). The
      first matching band is a pure function of sig_a XOR sig_b, so each
      surviving row keeps the pair iff ITS band is that first match —
      exactly one emission per pair, no dedup exchange at all; the
      Hamming radius filter also moves before any exchange.

    Output is row-identical to the former banding + dropDuplicates +
    filter by construction (same complete pair set, same hamming values);
    pinned against brute force in tests/test_dedup_scale_paths.py."""
    if max_hamming >= 64 // band_bits:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the pigeonhole guarantee of "
            f"band_bits={band_bits} (complete only below {64 // band_bits})"
        )
    sigs = simhash(df, text_col, id_col)
    n_bands = max_hamming + 1
    base, extra = divmod(64, n_bands)
    offsets, widths, off = [], [], 0
    for i in range(n_bands):
        w = base + (1 if i < extra else 0)
        offsets.append(off)
        widths.append(w)
        off += w

    def band_key(col: str, i: int) -> str:
        return f"(shiftright({col}, {offsets[i]}) & {(1 << widths[i]) - 1})"

    structs = ", ".join(
        f"struct({b} AS band, {band_key('simhash', b)} AS key)" for b in range(n_bands)
    )
    banded = sigs.select(
        "doc_id", "simhash", F.expr(f"explode(array({structs})) AS bb")
    ).select("doc_id", "simhash", "bb.band", "bb.key")
    a, b = banded.alias("a"), banded.alias("b")
    xor = "(a.simhash ^ b.simhash)"
    ham = f"bit_count({xor})"
    keys = ", ".join(band_key(xor, i) for i in range(n_bands))
    first_band = f"(array_position(array({keys}), CAST(0 AS BIGINT)) - 1)"
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(F.expr(f"(a.band = {first_band}) AND ({ham} <= {max_hamming})"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.expr(f"{ham} AS hamming"),
        )
    )


def embedding_neardup_pairs(df: DataFrame, vec_col: str, id_col: str, threshold: float) -> DataFrame:
    """Embedding-cosine near-dup pairs, brute force (id_a < id_b). Exact and
    oracle-checkable; at scale swap the pair generator for
    ``similarity.lsh_buckets`` candidates and keep this verify expression."""
    df = fan_out(df)  # O(n²) pair compute — parallelize the driving side
    # norms precomputed per vector (n sqrt-folds, not n²)
    a = df.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
        V.norm(F.col(vec_col)).alias("na"),
    )
    b = df.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
        V.norm(F.col(vec_col)).alias("nb"),
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos_sim",
            F.round(V.safe_cosine_from(V.dot(F.col("va"), F.col("vb")), F.col("na"), F.col("nb")), 6),
        )
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iter: int = 20,
) -> DataFrame:
    """Near-dup pairs → dedup clusters: connected components by iterative
    min-label propagation (the downstream step that turns pairwise matches
    into keep/drop groups; cluster id = min member id).

    Iterative control flow lives on the driver (converge when no label
    changes — an aggregate check per round); per-round work is one join +
    one aggregate, and ``localCheckpoint`` truncates the growing lineage so
    round N doesn't replay rounds 1..N-1. Each round also shortcuts
    ``label(u) ← label(label(u))`` (one self-join on the O(nodes) label
    table), halving pointer-chain depth — rounds drop from
    O(diameter) to O(log diameter), which is what keeps a pathological
    deep chain from blowing the iteration cap at corpus scale. Safe because
    labels are non-increasing, always a component member's id, and any
    propagation fixpoint is already the component min (the jump is then the
    identity — the convergence test is unchanged).

    r12 (the operators/graph bounded-kernel pattern, VERDICT r11 #1
    applied to the dedup tail): when the PAIR table is bounded (one
    bounded fetch of the checkpointed pair projection decides — near-dup
    pair sets are a small fraction of any corpus, but the gate keeps the
    distributed loop live for degenerate generators), the same
    propagate-plus-pointer-jump runs in numpy on the driver
    (``graph.driver_kernel`` with ``_components_kernel``): cluster id =
    min member is the identical partition + labeling by construction
    (pinned both paths in tests/test_graph_kernels.py). Past the gate the
    propagation loop below runs unchanged."""
    p = checkpoint(
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v")),
        eager=False,  # the gate fetch materializes it; the loop reuses it
    )
    from .graph import _SPARSE_MAX_ROWS, _edge_kernel

    small = _edge_kernel(
        p, "u", "v", _SPARSE_MAX_ROWS, _components_kernel,
        "doc_id {id}, cluster_id {id}",
    )
    if small is not None:
        return small
    edges = checkpoint(
        p.unionByName(p.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
    )
    labels = edges.select("u").distinct().withColumn("label", F.col("u"))
    for _ in range(max_iter):
        lbl_v = labels.select(F.col("u").alias("v"), F.col("label").alias("v_label"))
        neighbor_min = (
            edges.join(lbl_v, "v")
            .groupBy(F.col("u").alias("n_u"))
            .agg(F.min("v_label").alias("n_label"))
        )
        updated = checkpoint(
            labels.join(neighbor_min, labels.u == F.col("n_u"), "left")
            .select(
                labels.u.alias("u"),
                F.least(F.col("label"), F.coalesce("n_label", "label")).alias("new_label"),
                F.col("label"),
            )
        )
        changed = updated.filter(F.col("new_label") != F.col("label")).count()
        labels = updated.select("u", F.col("new_label").alias("label"))
        if changed == 0:
            break
        l2 = labels.select(F.col("u").alias("j_u"), F.col("label").alias("j_label"))
        labels = checkpoint(
            labels.join(l2, labels.label == F.col("j_u"), "left")
            .select(
                "u",
                F.least(F.col("label"), F.coalesce("j_label", "label")).alias("label"),
            )
        )
    else:
        # falling through with changed != 0 would silently return WRONG
        # labels for any component whose diameter exceeds max_iter
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations "
            f"({changed} labels still changing) — raise max_iter (rounds "
            "needed = component diameter; near-dup clusters are usually "
            "shallow, so a deep chain suggests a degenerate pair generator)"
        )
    return labels.select(F.col("u").alias("doc_id"), F.col("label").alias("cluster_id"))


def _components_kernel(pdf):
    """The distributed loop's propagate-plus-pointer-jump over
    dictionary-encoded ``(ku, kv)`` pairs, until no label moves. Labels
    are indices into the sorted ids and only ever fall to a member of the
    same component, so the fixpoint's label is each component's minimum
    member; nodes are all pair endpoints, the distributed labels' domain.
    Propagation lowers the label of each endpoint's LABEL (its root), not
    only the endpoint's own: a plain min-propagation took 93 rounds on
    2^20 random pairs over 2^21 ids, this takes 8."""
    import numpy as np
    import pandas as pd

    from .graph import _encode_ids

    ids, su, sv = _encode_ids(pdf)
    lab = np.arange(len(ids))
    while True:
        nxt = lab.copy()
        np.minimum.at(nxt, lab[su], lab[sv])
        np.minimum.at(nxt, lab[sv], lab[su])
        nxt = np.minimum(nxt, nxt[lab])
        if (nxt == lab).all():
            break
        lab = nxt[nxt]  # pointer jump: label(u) ← label(label(u))
    return pd.DataFrame({"doc_id": ids, "cluster_id": ids[lab]})


def fuzzy_pairs(
    df: DataFrame,
    col: str,
    id_col: str,
    *,
    max_dist: int = 2,
    block: Column | None = None,
) -> DataFrame:
    """Blocked edit-distance (fuzzy) matching — the record-linkage / title-
    dedup primitive: pairs whose Levenshtein distance ≤ ``max_dist``,
    compared ONLY within a blocking key (never all-pairs).

    Scale shape: the equi-join on the block key is one hash shuffle; cost is
    O(Σ block²) × levenshtein, so the block key must bound block size (the
    classic choices: normalized prefix, q-gram minhash, phonetic key — at
    100 TB compose several and union the candidate sets). A length-difference
    prefilter and Spark's THRESHOLDED levenshtein (early-exit, returns -1
    past the bound) keep the per-pair cost at O(max_dist × len), not
    O(len²).

    r11 (common-prefix stripping, lossless): with the DEFAULT prefix block,
    block equality guarantees both strings share their first
    ``_PREFIX_BLOCK_LEN`` characters exactly (two strings shorter than the
    prefix are block-equal only when fully equal), and Levenshtein is
    invariant under common-prefix removal — so the per-pair distance runs
    on the SUFFIXES, computed once per row, not per pair. Profiled at
    sf0.1: the 18-char TPC-H names share a near-constant 15-char prefix,
    so 7.49M candidate pairs each paid a full-width levenshtein for a
    3-char decision. A caller-supplied ``block`` is opaque (no prefix
    guarantee) and keeps the full-string comparison.
    """
    strip = block is None
    if block is None:
        block = F.substring(F.col(col), 1, _PREFIX_BLOCK_LEN)
    cmp_val = (
        F.substring(F.col(col), _PREFIX_BLOCK_LEN + 1, 2_147_483_647)
        if strip
        else F.col(col)
    )
    b = df.select(F.col(id_col).alias("_fid"), cmp_val.alias("_fval"), block.alias("_blk"))
    a2, b2 = b.alias("fa"), b.alias("fb")
    return (
        a2.join(
            b2,
            (F.col("fa._blk") == F.col("fb._blk")) & (F.col("fa._fid") < F.col("fb._fid")),
        )
        .filter(
            F.abs(F.length(F.col("fa._fval")) - F.length(F.col("fb._fval"))) <= max_dist
        )
        .withColumn("dist", F.levenshtein(F.col("fa._fval"), F.col("fb._fval"), max_dist))
        .filter((F.col("dist") >= 0) & (F.col("dist") <= max_dist))
        .select(
            F.col("fa._fid").alias("id_a"),
            F.col("fb._fid").alias("id_b"),
            "dist",
        )
    )
