"""Corpus-level language-model statistics (SURVEY.md §2.11 extensions — the
CCNet/Gopher-style curation tier a pretraining pipeline runs between raw
ingest and tokenization): unigram-LM perplexity-proxy scoring, vocabulary
build with OOV coverage, PMI collocation mining, inverted-index postings,
and per-domain quota capping.

All five are pure DataFrame compositions (no Python in the hot path); each
oracle replays the identical arithmetic in DuckDB. Shared shape: one explode
of ``documents.text`` into tokens, then token-keyed aggregations whose
results are small enough to broadcast back against the exploded stream —
the classic "corpus statistics are tiny relative to the corpus" asymmetry
that makes these cheap at 100 TB (Heaps' law: a 10¹¹-token corpus has a
~10⁸-type vocabulary; after min-count pruning it broadcasts)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as T
from ..session import checkpoint, table
from ._registry import register


@register(
    "q_unigram_lm_score",
    driver=False,  # §2.11 curation extension — pytest oracle
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
), cnt AS (
  SELECT w, count(*) AS c FROM tok GROUP BY w
), tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS n, count(*) AS v FROM cnt
), scored AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT)                 AS n_tokens,
         round(avg(-ln((c + 1.0) / (n + v))), 6)  AS nll
  FROM tok JOIN cnt USING (w) CROSS JOIN tot
  GROUP BY doc_id
)
SELECT doc_id, n_tokens, nll,
       CAST(ntile(4) OVER (ORDER BY nll, doc_id) AS INT) AS ppl_band
FROM scored
""",
)
def q_unigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM perplexity proxy (CCNet-style quality scoring): train an
    add-one-smoothed unigram model ON the corpus, score each document by its
    mean token negative-log-likelihood, and band documents into perplexity
    quartiles (band 1 = most predictable). The real CCNet uses a wiki-trained
    KenLM; the *pipeline shape* is identical — model table built once, scored
    in one pass.

    Scale: the vocab count is one token-keyed shuffle; the (n, v) total is a
    1-row broadcast; scoring re-joins the exploded stream against the vocab —
    broadcast here (fixture vocab ≪ 8 GB), an equi-join on ``w`` for a
    10⁸-type corpus (prune with ``HAVING c >= 2`` + an OOV bucket first).
    The quartile band is a global ntile — at 100 TB replace with three
    quantile cutpoints broadcast from ``approx_percentile`` (same swap as
    q_quality_filter). Rounded at 6 dp in both engines (sum-order drift);
    band ordered by (rounded nll, doc_id) so ties are engine-stable."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("w"))
    cnt = tok.groupBy("w").agg(F.count("*").alias("c"))
    tot = cnt.agg(F.sum("c").alias("n"), F.count("*").alias("v"))
    nll = -F.log((F.col("c") + F.lit(1.0)) / (F.col("n") + F.col("v")))
    scored = (
        tok.join(F.broadcast(cnt), "w")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg(nll), 6).alias("nll"),
        )
    )
    band = F.ntile(4).over(Window.orderBy("nll", "doc_id"))
    return scored.select("doc_id", "n_tokens", "nll", band.alias("ppl_band"))


@register(
    "q_vocab_coverage",
    driver=False,  # §2.11 curation extension — pytest oracle
    oracle="""
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
), vocab AS (
  SELECT w FROM (
    SELECT w, count(*) AS c FROM tok GROUP BY w
    ORDER BY c DESC, w LIMIT 500
  )
)
SELECT source,
       CAST(count(*) AS BIGINT)                          AS total_tokens,
       CAST(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                                                         AS oov_tokens,
       round(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6)              AS oov_rate
FROM tok t LEFT JOIN vocab v ON t.w = v.w
GROUP BY source
""",
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary build + OOV coverage: take the top-500 corpus tokens by
    frequency (the fixed-size vocabulary a tokenizer trainer would freeze)
    and report, per source, what fraction of its token stream falls outside
    it — the coverage curve that decides vocab size before a BPE train.

    Scale: the vocab is ORDER BY count LIMIT V → TakeOrderedAndProject
    (per-partition partial top-V before a single-partition merge of V-row
    partials, never a global sort of the vocab) and is broadcast back as the
    probe side; per-source coverage is one partial+final agg on ~sources
    rows. Ties at the V boundary break by token text in both engines."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(T.tokens(F.col("text"))).alias("w"))
    vocab = (
        tok.groupBy("w")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), "w")
        .limit(500)
        .select("w", F.lit(1).alias("in_v"))
    )
    oov = F.when(F.col("in_v").isNull(), 1).otherwise(0)
    return (
        tok.join(F.broadcast(vocab), "w", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("total_tokens"),
            F.sum(oov).alias("oov_tokens"),
            F.round(F.sum(oov) / F.count("*").cast("double"), 6).alias(
                "oov_rate"
            ),
        )
    )


@register(
    "q_pmi_collocations",
    driver=False,  # §2.11 curation extension — pytest oracle
    oracle="""
WITH docs AS MATERIALIZED (
  -- MATERIALIZED (r9): docs is scanned by ug AND bg, bg by n2 AND c2 —
  -- inlined, DuckDB re-split and re-exploded the whole corpus per
  -- reference and blew the 40 GiB spill cap on the salted sf1 replica
  -- (whose doc-unique salt tokens make the distinct-bigram set
  -- corpus-sized)
  SELECT string_split(text, ' ') AS ws FROM documents
  WHERE len(string_split(text, ' ')) >= 2
), ug AS (
  SELECT unnest(ws) AS w FROM docs
), c1 AS MATERIALIZED (
  SELECT w, count(*) AS c FROM ug GROUP BY w
), n1 AS (
  SELECT CAST(sum(c) AS BIGINT) AS n FROM c1
), bg AS MATERIALIZED (
  SELECT unnest(list_transform(range(1, len(ws)),
                               i -> ws[i] || ' ' || ws[i + 1])) AS b
  FROM docs
), n2 AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM bg
), c2 AS (
  SELECT split_part(b, ' ', 1) AS w1, split_part(b, ' ', 2) AS w2,
         count(*) AS pair_n
  FROM bg GROUP BY 1, 2 HAVING count(*) >= 5
)
SELECT w1, w2, pair_n,
       round(ln((pair_n / n2.n) / ((cx.c / n1.n) * (cy.c / n1.n))), 6) AS pmi
FROM c2
JOIN c1 cx ON c2.w1 = cx.w
JOIN c1 cy ON c2.w2 = cy.w
CROSS JOIN n1 CROSS JOIN n2
ORDER BY pmi DESC, w1, w2 LIMIT 50
""",
)
def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation mining: the top-50 adjacent word pairs whose joint
    frequency most exceeds independence — ln(p(xy) / (p(x)·p(y))) over
    bigram/unigram counts, min pair support 5. The phrase-detection pass
    (word2vec-style) a tokenizer or glossary builder runs over a corpus.

    Scale: bigrams come from the same in-row ``transform(sequence(...))``
    as shingles (zero shuffle to build); the bigram count is one shuffle on
    the pair key; unigram counts broadcast twice onto the support-pruned
    pair table (prune FIRST — the ≥5 filter drops the long tail before any
    join); totals are 1-row broadcasts; the final top-50 is
    TakeOrderedAndProject. Ordered by (rounded pmi, w1, w2) so the 50-row
    cut is engine-stable."""
    d = table(spark, sf_dir, "documents")
    docs = d.select(T.tokens(F.col("text")).alias("ws")).filter(
        F.size("ws") >= 2
    )
    ug = docs.select(F.explode("ws").alias("w"))
    c1 = ug.groupBy("w").agg(F.count("*").alias("c"))
    n1 = c1.agg(F.sum("c").alias("n1"))
    pair = F.transform(
        F.sequence(F.lit(1), F.size("ws") - 1),
        lambda i: F.struct(
            F.element_at(F.col("ws"), i).alias("w1"),
            F.element_at(F.col("ws"), i + 1).alias("w2"),
        ),
    )
    bg = docs.select(F.explode(pair).alias("b")).select("b.w1", "b.w2")
    n2 = bg.agg(F.count("*").alias("n2"))
    c2 = (
        bg.groupBy("w1", "w2")
        .agg(F.count("*").alias("pair_n"))
        .filter(F.col("pair_n") >= 5)
    )
    cx = c1.select(F.col("w").alias("w1"), F.col("c").alias("cx"))
    cy = c1.select(F.col("w").alias("w2"), F.col("c").alias("cy"))
    pmi = F.log(
        (F.col("pair_n") / F.col("n2"))
        / ((F.col("cx") / F.col("n1")) * (F.col("cy") / F.col("n1")))
    )
    return (
        c2.join(F.broadcast(cx), "w1")
        .join(F.broadcast(cy), "w2")
        .crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(n2))
        .select("w1", "w2", "pair_n", F.round(pmi, 6).alias("pmi"))
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(50)
    )


@register(
    "q_inverted_index",
    driver=False,  # §2.11 retrieval extension — pytest oracle
    oracle="""
WITH p AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
  FROM documents
), inv AS (
  SELECT w, CAST(count(*) AS BIGINT) AS df,
         list(doc_id ORDER BY doc_id) AS ids
  FROM p GROUP BY w
)
SELECT w, df, array_to_string(ids[1:20], ',') AS postings
FROM inv WHERE df BETWEEN 5 AND 40
""",
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index posting lists: token → sorted doc-id list + document
    frequency, kept to the discriminative band (5 ≤ df ≤ 40 — stopword-like
    tokens excluded, hapaxes excluded), postings truncated to the first 20
    ids. The materialization step behind q_bm25's scoring joins — at scale
    this is what you'd persist, bucketed by token, as the retrieval index.

    Scale: per-doc ``array_distinct`` happens in-row before the explode (one
    (doc, token) pair per distinct token, not per occurrence); one shuffle on
    the token key builds df + postings together; the df band filter drops
    the head (stopwords' giant lists) and the tail in the same pass. The
    serialized-postings cap bounds output row width — full postings at 100 TB
    are written as bucketed (token, id-chunk) rows instead (chunk = 10⁴ ids),
    keeping every row group-limit-friendly. Postings sorted in both engines
    so the serialized string is deterministic."""
    d = table(spark, sf_dir, "documents")
    p = d.select(
        "doc_id",
        F.explode(F.array_distinct(T.tokens(F.col("text")))).alias("w"),
    )
    inv = p.groupBy("w").agg(
        F.count("*").alias("df"),
        F.array_sort(F.collect_list("doc_id")).alias("ids"),
    )
    return inv.filter((F.col("df") >= 5) & (F.col("df") <= 40)).select(
        "w",
        "df",
        F.array_join(F.slice("ids", 1, 20), ",").alias("postings"),
    )


@register(
    "q_compress_ratio",
    driver=False,
    oracle=None,  # zlib isn't expressible in DuckDB SQL — exact Python
    # replay pytest instead (tests/test_properties.py), same pattern as
    # q_weighted_sample's rows-only proof
)
def q_compress_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality scoring: zlib(level 6) compressed size
    over raw size per document, banded into low-entropy (boilerplate /
    repetition, ratio < 0.35), normal, and high-entropy (noise-like,
    ratio > 0.9) — the cheap single-signal filter real web-corpus
    curation runs before any model-based scorer.

    Scale: a narrow Arrow-batched projection (functions.udfs
    ``compression_ratio``) plus a codegen band CASE — no shuffle at all;
    the rows-only registration is because zlib has no SQL form, and the
    pytest proof replays the identical zlib call on the same fixture
    bytes (exact equality, not tolerance)."""
    from ..functions import udfs as U

    d = table(spark, sf_dir, "documents")
    r = F.round(U.compression_ratio()(F.col("text")), 6)
    band = (
        F.when(F.col("ratio") < 0.35, "low_entropy")
        .when(F.col("ratio") > 0.9, "high_entropy")
        .otherwise("normal")
    )
    return d.select(
        "doc_id", "n_chars", r.alias("ratio")
    ).withColumn("band", band)


@register(
    "q_zipf_diag",
    driver=False,  # §2.11 corpus-diagnostics extension — pytest oracle
    oracle="""
WITH cnt AS (
  SELECT w, count(*) AS c
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  GROUP BY w ORDER BY c DESC, w LIMIT 200
), ranked AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, w) AS rk FROM cnt
)
SELECT CAST(count(*) AS BIGINT)                    AS n_types,
       round(regr_slope(ln(c), ln(rk)), 6)         AS zipf_slope,
       round(regr_intercept(ln(c), ln(rk)), 6)     AS zipf_intercept,
       round(regr_r2(ln(c), ln(rk)), 6)            AS fit_r2
FROM ranked
""",
)
def q_zipf_diag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency diagnostic: least-squares slope of ln(count) vs
    ln(rank) over the top-200 vocabulary — natural corpora fit slope ≈ −1;
    a synthetic or template-heavy corpus shows up immediately as a flat or
    kinked curve. The one-row corpus health check next to
    q_mixture_diagnostics' entropy.

    Scale: top-200 via TakeOrderedAndProject (partial top-V per partition),
    then the regression runs on 200 rows — the rank window and regr_*
    accumulators are driver-trivial at any corpus size. Both engines use
    the same (count desc, word) total order for ranks; regr sums over 200
    values drift ~1e-13, swallowed by the 6 dp round."""
    d = table(spark, sf_dir, "documents")
    cnt = (
        d.select(F.explode(T.tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), "w")
        .limit(200)
    )
    ranked = cnt.select(
        "c",
        F.row_number().over(Window.orderBy(F.desc("c"), "w")).alias("rk"),
    )
    lc, lr = F.log("c"), F.log("rk")
    return ranked.agg(
        F.count("*").alias("n_types"),
        F.round(F.regr_slope(lc, lr), 6).alias("zipf_slope"),
        F.round(F.regr_intercept(lc, lr), 6).alias("zipf_intercept"),
        F.round(F.regr_r2(lc, lr), 6).alias("fit_r2"),
    )


@register(
    "q_quantile_normalize",
    driver=False,  # §2.11 cross-source calibration — pytest oracle
    oracle="""
WITH src AS (
  SELECT doc_id, source, n_chars,
         CAST(row_number() OVER (PARTITION BY source
                                 ORDER BY n_chars, doc_id) AS INT) AS rk_s,
         count(*) OVER (PARTITION BY source)                       AS n_s
  FROM documents
), gcdf AS (
  SELECT n_chars AS calib,
         row_number() OVER (ORDER BY n_chars, doc_id) AS rk_g
  FROM documents
), tot AS (
  SELECT count(*) AS n FROM documents
)
SELECT doc_id, source, n_chars, rk_s, calib
FROM (
  SELECT *, greatest(1, CAST(floor(((rk_s - 0.5) / n_s) * n + 0.5)
                             AS BIGINT)) AS j
  FROM src CROSS JOIN tot
) probe JOIN gcdf ON probe.j = gcdf.rk_g
""",
)
def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source quantile normalization: replace each document's score
    (n_chars as the stand-in) with the GLOBAL value at the same within-
    source rank fraction — the calibration step that makes one threshold
    comparable across sources whose raw score distributions differ (a
    quality gate tuned on one crawl would otherwise over/under-prune the
    others).

    The CDF probe is CLOSED FORM, not a join search: the global plotting
    position g_j = (j−0.5)/N satisfies g_j ≤ f exactly when
    j ≤ f·N + 0.5, so the matched index is floor(f·N + 0.5) — an
    equi-join on row number, engine-identical because f and g are exact
    integer-derived doubles. Scale: the global row_number is the exactness
    anchor (single-partition sort of the SCORES, not the docs); at 100 TB
    replace the `glob` table with a 1001-point `approx_percentile` grid
    broadcast — the probe arithmetic is unchanged (same anchor/sketch
    pairing as q_agg_stats)."""
    d = table(spark, sf_dir, "documents")
    w_s = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    src = d.select(
        "doc_id",
        "source",
        "n_chars",
        F.row_number().over(w_s).alias("rk_s"),
        F.count("*").over(Window.partitionBy("source")).alias("n_s"),
    )
    glob = d.select(
        F.col("n_chars").alias("calib"),
        F.row_number().over(Window.orderBy("n_chars", "doc_id")).alias("rk_g"),
    )
    tot = d.agg(F.count("*").alias("n"))
    j = F.greatest(
        F.lit(1).cast("long"),
        F.floor(
            ((F.col("rk_s") - F.lit(0.5)) / F.col("n_s")) * F.col("n")
            + F.lit(0.5)
        ),
    )
    return (
        src.crossJoin(F.broadcast(tot))
        .withColumn("j", j)
        .join(glob, F.col("j") == F.col("rk_g"))
        .select("doc_id", "source", "n_chars", "rk_s", "calib")
    )


def _bpe_rounds(steps: int = 5) -> str:
    """Shared WITH-chain for the BPE oracles: word census, char-split seed,
    and one (pair-count, best, merge) CTE trio per round, MATERIALIZED so
    the self-referencing chain doesn't inline exponentially (same technique
    as q_pagerank's oracle). q_bpe_learn selects the b{i} merge rows;
    q_bpe_apply chains the same b{i} onto per-document sequences."""
    head = """
WITH w AS MATERIALIZED (
  SELECT word, count(*) AS freq FROM (
    SELECT unnest(string_split(text, ' ')) AS word FROM documents
  ) WHERE word <> '' GROUP BY word
), s0 AS MATERIALIZED (
  SELECT freq, ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS seq FROM w
)"""
    rounds = "".join(
        f""", p{i} AS MATERIALIZED (
  SELECT pr.l AS l, pr.r AS r, CAST(sum(freq) AS BIGINT) AS c FROM (
    SELECT freq,
           unnest(list_transform(range(1, len(syms)),
                                 j -> struct_pack(l := syms[j],
                                                  r := syms[j + 1]))) AS pr
    FROM (SELECT freq, string_split(trim(seq), ' ') AS syms FROM s{i - 1})
    WHERE len(syms) >= 2
  ) GROUP BY 1, 2
), b{i} AS MATERIALIZED (
  SELECT l, r, c FROM p{i} ORDER BY c DESC, l, r LIMIT 1
), s{i} AS MATERIALIZED (
  SELECT freq, replace(seq, ' ' || b.l || ' ' || b.r || ' ',
                            ' ' || b.l || b.r || ' ') AS seq
  FROM s{i - 1}, b{i} b
)"""
        for i in range(1, steps + 1)
    )
    return head + rounds


def _bpe_oracle(steps: int = 5) -> str:
    tail = "\nUNION ALL\n".join(
        f"SELECT CAST({i} AS INT) AS step, l AS merge_l, r AS merge_r, c AS pair_freq FROM b{i}"
        for i in range(1, steps + 1)
    )
    return _bpe_rounds(steps) + "\n" + tail


def _bpe_apply_oracle(steps: int = 5) -> str:
    """Apply the learned merges to every document's word stream and roll up
    per-doc token counts."""
    docw = """, d0 AS MATERIALIZED (
  SELECT doc_id, ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS seq
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE word <> ''
)"""
    applies = "".join(
        f""", d{i} AS MATERIALIZED (
  SELECT doc_id, replace(seq, ' ' || b.l || ' ' || b.r || ' ',
                              ' ' || b.l || b.r || ' ') AS seq
  FROM d{i - 1}, b{i} b
)"""
        for i in range(1, steps + 1)
    )
    tail = f"""
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(len(string_split(trim(seq), ' '))) AS BIGINT) AS n_tokens,
       round(CAST(sum(len(string_split(trim(seq), ' '))) AS DOUBLE)
             / count(*), 6) AS tokens_per_word
FROM d{steps} GROUP BY doc_id"""
    return _bpe_rounds(steps) + docw + applies + tail


@register(
    "q_bpe_learn",
    driver=True,  # §2.11 tokenizer-training extension — rotated in r11 (wave 6)
    oracle=_bpe_oracle(),
)
def q_bpe_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE vocabulary learning, first 5 merges: the classic
    byte-pair-encoding trainer loop — count adjacent symbol pairs weighted
    by word frequency, merge the most frequent pair corpus-wide, repeat —
    run entirely as DataFrame rounds. Deterministic merge choice by
    (count DESC, left, right); `replace` applies merges left-to-right
    non-overlapping in both engines (the BPE convention). Oracle: the same
    rounds unrolled as MATERIALIZED CTEs (q_pagerank's technique).

    Scale: the state is the WORD-frequency table (Heaps-law small, not the
    corpus — BPE trainers always run on the word census), so each round is
    one pair-keyed partial/final agg + a TakeOrdered(1) + a broadcast-1-row
    merge applied as a codegen string replace; `localCheckpoint` cuts the
    per-round lineage exactly like connected_components / pagerank. Real
    trainers run ~50k rounds of this same loop shape with an in-driver
    heap for incremental pair-count maintenance — the distributed rounds
    here are the out-of-core fallback when the word census itself doesn't
    fit."""
    merges = _bpe_learn_merges(spark, sf_dir)
    out = merges[0]
    for m in merges[1:]:
        out = out.unionByName(m)
    return out


def _bpe_learn_merges(spark: SparkSession, sf_dir: str) -> list[DataFrame]:
    """The BPE trainer loop shared by q_bpe_learn and q_bpe_apply: returns
    one 1-row DataFrame per learned merge, in merge order (columns step /
    merge_l / merge_r / pair_freq), each localCheckpointed so downstream
    consumers replay nothing."""
    d = table(spark, sf_dir, "documents")
    w = (
        d.select(F.explode(T.tokens(F.col("text"))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    seqs = w.select(
        "freq",
        F.concat(
            F.lit(" "), F.regexp_replace(F.col("word"), "(.)", "$1 ")
        ).alias("seq"),
    ).transform(checkpoint)
    merges = []
    for step in range(1, 6):
        syms = F.split(F.trim(F.col("seq")), " ")
        pair = F.transform(
            F.sequence(F.lit(1), F.size("syms") - 1),
            lambda j: F.struct(
                F.element_at(F.col("syms"), j).alias("l"),
                F.element_at(F.col("syms"), j + 1).alias("r"),
            ),
        )
        pc = (
            seqs.select("freq", syms.alias("syms"))
            .filter(F.size("syms") >= 2)
            .select("freq", F.explode(pair).alias("pr"))
            .groupBy(F.col("pr.l").alias("l"), F.col("pr.r").alias("r"))
            .agg(F.sum("freq").alias("c"))
        )
        best = pc.orderBy(F.desc("c"), "l", "r").limit(1).transform(checkpoint)
        merges.append(
            best.select(
                F.lit(step).alias("step"),
                F.col("l").alias("merge_l"),
                F.col("r").alias("merge_r"),
                F.col("c").alias("pair_freq"),
            )
        )
        pat = F.concat(F.lit(" "), F.col("_l"), F.lit(" "), F.col("_r"), F.lit(" "))
        rep = F.concat(F.lit(" "), F.col("_l"), F.col("_r"), F.lit(" "))
        seqs = (
            seqs.crossJoin(
                F.broadcast(
                    best.select(
                        F.col("l").alias("_l"), F.col("r").alias("_r")
                    )
                )
            )
            .select("freq", F.replace(F.col("seq"), pat, rep).alias("seq"))
            .transform(checkpoint)
        )
    return merges


@register(
    "q_bpe_apply",
    driver=False,  # §2.11 tokenizer-apply extension — pytest oracle
    oracle=_bpe_apply_oracle(),
)
def q_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODING — the apply side of q_bpe_learn's trainer: run the 5
    learned merges, in order, over every document's word stream and report
    per-doc subword counts (n_words, n_tokens, tokens_per_word). Merges
    apply as left-to-right non-overlapping string replaces (the BPE
    convention, identical `replace` semantics in both engines); the oracle
    re-derives the same merge table and applies it in the same order.

    Scale: the apply path is the hot one (it touches the corpus, unlike the
    trainer which runs on the Heaps-law word census) — here it is a pure
    narrow codegen chain: 5 broadcast 1-row crossjoins + string replaces
    fused into one projection over the exploded word stream, then ONE
    doc-keyed partial+final agg. At a real ~50k-merge vocabulary the
    replace chain becomes an Arrow-batched pandas UDF holding the merge
    ranks in a dict (greedy pair-merge per word) — same shape, one scan,
    zero shuffles before the rollup."""
    merges = _bpe_learn_merges(spark, sf_dir)
    d = table(spark, sf_dir, "documents")
    seqs = (
        d.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("word"))
        .filter(F.col("word") != "")
        .select(
            "doc_id",
            F.concat(
                F.lit(" "), F.regexp_replace(F.col("word"), "(.)", "$1 ")
            ).alias("seq"),
        )
    )
    for best in merges:
        pat = F.concat(F.lit(" "), F.col("_l"), F.lit(" "), F.col("_r"), F.lit(" "))
        rep = F.concat(F.lit(" "), F.col("_l"), F.col("_r"), F.lit(" "))
        seqs = seqs.crossJoin(
            F.broadcast(
                best.select(
                    F.col("merge_l").alias("_l"), F.col("merge_r").alias("_r")
                )
            )
        ).select("doc_id", F.replace(F.col("seq"), pat, rep).alias("seq"))
    n_tok = F.size(F.split(F.trim(F.col("seq")), " "))
    return (
        seqs.select("doc_id", n_tok.alias("n_tok"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_tok").alias("n_tokens"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_tokens",
            F.round(
                F.col("n_tokens").cast("double") / F.col("n_words"), 6
            ).alias("tokens_per_word"),
        )
    )


# --------------------------------------------------------------------------
# Bigram LM with stupid backoff — held-out scoring (round 5)
# --------------------------------------------------------------------------
@register(
    "q_bigram_lm_score",
    driver=False,  # §2.11 curation/LM family (round 5) — pytest oracle
    oracle="""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), train AS (
  SELECT * FROM d WHERE doc_id % 2 = 0
), c1 AS (
  SELECT w, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(ws) AS w FROM train) GROUP BY w
), nt AS (
  SELECT CAST(sum(c) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS v FROM c1
), bgt AS (
  SELECT unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i + 1])) AS b
  FROM train WHERE len(ws) >= 2
), c2 AS (
  SELECT split_part(b, ' ', 1) AS w1, split_part(b, ' ', 2) AS w2,
         CAST(count(*) AS BIGINT) AS c
  FROM bgt GROUP BY 1, 2
), s AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i + 1])) AS b
  FROM d WHERE len(ws) >= 2
), j AS (
  SELECT s.doc_id,
         CASE WHEN c2.c IS NOT NULL
              THEN CAST(c2.c AS DOUBLE) / CAST(cw.c AS DOUBLE)
              ELSE 0.4 * (coalesce(cu.c, 0) + 1) / CAST(nt.n + nt.v AS DOUBLE)
         END AS p
  FROM s
  LEFT JOIN c2 ON split_part(s.b, ' ', 1) = c2.w1 AND split_part(s.b, ' ', 2) = c2.w2
  LEFT JOIN c1 cw ON split_part(s.b, ' ', 1) = cw.w
  LEFT JOIN c1 cu ON split_part(s.b, ' ', 2) = cu.w
  CROSS JOIN nt
), per AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         round(avg(-ln(p)), 6) AS nll
  FROM j GROUP BY doc_id
)
SELECT doc_id, n_bigrams, nll,
       CAST(doc_id % 2 AS BIGINT) = 1 AS is_heldout,
       ntile(4) OVER (ORDER BY nll, doc_id) AS ppl_band
FROM per
""",
)
def q_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram LM with STUPID BACKOFF, trained on the even-doc_id half of
    the corpus and scored on ALL documents — the held-out-perplexity shape
    a data-quality pipeline actually runs (train the cheap LM on trusted
    data, score candidates; KenLM's role in CCNet, one order up from
    q_unigram_lm_score). Seen bigrams score c(w1,w2)/c(w1); unseen ones
    back off to 0.4 × add-one unigram — held-out docs genuinely exercise
    the backoff path, which a self-trained model never would.

    Scale: bigram counts are one pair-keyed shuffle built from the same
    in-row adjacent-pair transform as PMI (zero shuffle to construct);
    the unigram table broadcasts unconditionally (Heaps-law small — the
    q_unigram_lm_score precedent), while the BIGRAM table goes through the
    size gate (it grows faster than the vocab; plain equi-join above the
    gate, and the one probe is the gate's documented bounded cost). The
    quartile band is the q_unigram_lm_score global-ntile with the same
    cutpoint swap at scale."""
    from ..session import broadcast_if_small

    d = table(spark, sf_dir, "documents").select(
        "doc_id", T.tokens(F.col("text")).alias("ws")
    )
    bg = F.expr(
        "transform(sequence(1, size(ws) - 1),"
        " i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))"
    )
    train = d.filter(F.col("doc_id") % 2 == 0)
    c1 = (
        train.select(F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    nt = c1.agg(F.sum("c").alias("n"), F.count("*").alias("v"))
    c2 = (
        train.filter(F.size("ws") >= 2)
        .select(F.explode(bg).alias("b"))
        .select(
            F.expr("split_part(b, ' ', 1)").alias("w1"),
            F.expr("split_part(b, ' ', 2)").alias("w2"),
        )
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c"))
    )
    s = (
        d.filter(F.size("ws") >= 2)
        .select("doc_id", F.explode(bg).alias("b"))
        .select(
            "doc_id",
            F.expr("split_part(b, ' ', 1)").alias("sw1"),
            F.expr("split_part(b, ' ', 2)").alias("sw2"),
        )
    )
    j = (
        s.join(
            broadcast_if_small(c2.withColumnRenamed("c", "bc")),
            (F.col("sw1") == F.col("w1")) & (F.col("sw2") == F.col("w2")),
            "left",
        )
        .join(
            F.broadcast(c1.select(F.col("w").alias("cw_w"), F.col("c").alias("cw_c"))),
            F.col("sw1") == F.col("cw_w"),
            "left",
        )
        .join(
            F.broadcast(c1.select(F.col("w").alias("cu_w"), F.col("c").alias("cu_c"))),
            F.col("sw2") == F.col("cu_w"),
            "left",
        )
        .crossJoin(F.broadcast(nt))
    )
    p = F.when(
        F.col("bc").isNotNull(),
        F.col("bc").cast("double") / F.col("cw_c").cast("double"),
    ).otherwise(
        0.4
        * (F.coalesce(F.col("cu_c"), F.lit(0)) + 1)
        / (F.col("n") + F.col("v")).cast("double")
    )
    per = j.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.avg(-F.log(p)), 6).alias("nll"),
    )
    band = F.ntile(4).over(Window.orderBy("nll", "doc_id"))
    return per.select(
        "doc_id",
        "n_bigrams",
        "nll",
        (F.col("doc_id") % 2 == 1).alias("is_heldout"),
        band.alias("ppl_band"),
    )


# --------------------------------------------------------------------------
# FORCAST readability grade (round 5)
# --------------------------------------------------------------------------
@register(
    "q_readability",
    driver=False,  # §2.11 text-quality family (round 5) — pytest oracle
    oracle="""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), m AS (
  SELECT doc_id,
         CAST(len(ws) AS BIGINT) AS n_words,
         CAST(len(list_filter(ws,
              w -> len(regexp_extract_all(w, '[aeiou]+')) = 1)) AS BIGINT) AS n_mono
  FROM d WHERE len(ws) > 0
)
SELECT doc_id, n_words, n_mono,
       round(20.0 - 15.0 * (CAST(n_mono AS DOUBLE) / n_words), 3) AS forcast_grade
FROM m
""",
)
def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORCAST readability grade per document (SURVEY §2.11 text-quality
    tier, beside q_doc_features' quality score):
    grade = 20 − 15·(share of monosyllabic words), the one classic
    readability formula that needs NO sentence boundaries — which is
    exactly what whitespace-tokenized training corpora lack. Syllables are
    vowel-group counts (the standard heuristic), monosyllable = exactly one
    [aeiou]+ run; both engines run the identical regex from the
    Java/RE2-agreed subset inside a higher-order list filter, so the census
    is exact integers and the grade one shared double expression.

    Scale: zero shuffles — the whole census is per-row lambda arithmetic
    fused into the scan; at 100 TB this is a free column on any pass over
    the corpus (quality gates consume it exactly like length/stopword
    ratios)."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", T.tokens(F.col("text")).alias("ws")
    )
    m = d.filter(F.size("ws") > 0).select(
        "doc_id",
        F.size("ws").cast("long").alias("n_words"),
        F.expr(
            "size(filter(ws, w -> size(regexp_extract_all(w, '[aeiou]+', 0)) = 1))"
        )
        .cast("long")
        .alias("n_mono"),
    )
    return m.select(
        "doc_id",
        "n_words",
        "n_mono",
        F.round(
            20.0 - 15.0 * (F.col("n_mono").cast("double") / F.col("n_words")), 3
        ).alias("forcast_grade"),
    )


# --------------------------------------------------------------------------
# Jensen-Shannon divergence per source (round 5 continuation)
# --------------------------------------------------------------------------
@register(
    "q_js_divergence",
    driver=False,  # §2.11 mixture-diagnostics extension (round 5) — pytest oracle
    oracle="""
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
), sc AS (
  SELECT source, term, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY 1, 2
), st AS (
  SELECT source, CAST(sum(c) AS BIGINT) AS n FROM sc GROUP BY source
), ct AS (
  SELECT term, CAST(sum(c) AS BIGINT) AS cc FROM sc GROUP BY term
), tot AS (
  SELECT CAST(sum(cc) AS BIGINT) AS t FROM ct
), terms AS (
  SELECT sc.source, st.n,
         sc.c / CAST(st.n AS DOUBLE)                    AS p,
         (ct.cc - sc.c) / CAST(tot.t - st.n AS DOUBLE)  AS q
  FROM sc JOIN st USING (source) JOIN ct USING (term) CROSS JOIN tot
  WHERE tot.t > st.n
)
SELECT source,
       CAST(n AS BIGINT) AS n_tokens,
       round(0.5 * (sum(p * log2(2.0 * p / (p + q))
                        + CASE WHEN q > 0
                               THEN q * log2(2.0 * q / (p + q)) ELSE 0.0 END)
                    + (1.0 - sum(q))), 6) AS jsd_bits
FROM terms
GROUP BY source, n
""",
)
def q_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence (bits) between each source's token
    distribution P and the REST of the corpus Q — the symmetric, bounded
    [0,1] companion to q_mixture_diagnostics' KL(source‖corpus): the
    mixture-rebalance trigger that doesn't blow up on source-exclusive
    vocabulary (SURVEY §2.11 mixture family). The vocabulary fan-out trick
    keeps the plan corpus-vocab-sized: terms ABSENT from the source
    contribute exactly q·log2(2) = q bits, so their total folds to
    (1 − Σ_{t∈source} q) and only (source, term) rows that EXIST are ever
    joined — no sources × vocab cross product. p and q derive from exact
    integer counts; log2 terms are the same IEEE doubles in both engines;
    the per-source sum rounds at 6 dp (the q_mixture_diagnostics
    discipline). Sources covering the whole corpus (t = n) are excluded
    (Q undefined).

    Scale: one explode → (source, term) groupBy, broadcast-joined
    marginals (Heaps-law small), per-source metadata agg."""
    toks = table(spark, sf_dir, "documents").select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    sc = toks.groupBy("source", "term").agg(F.count("*").alias("c"))
    st = sc.groupBy("source").agg(F.sum("c").alias("n"))
    ct = sc.groupBy("term").agg(F.sum("c").alias("cc"))
    tot = ct.agg(F.sum("cc").alias("t"))
    terms = (
        sc.join(F.broadcast(st), "source")
        .join(F.broadcast(ct), "term")
        .crossJoin(F.broadcast(tot))
        .filter(F.col("t") > F.col("n"))
        .select(
            "source",
            "n",
            (F.col("c") / F.col("n").cast("double")).alias("p"),
            ((F.col("cc") - F.col("c")) / (F.col("t") - F.col("n")).cast("double")).alias("q"),
        )
    )
    p, qq = F.col("p"), F.col("q")
    in_vocab = p * F.log2(2.0 * p / (p + qq)) + F.when(
        qq > 0, qq * F.log2(2.0 * qq / (p + qq))
    ).otherwise(0.0)
    return terms.groupBy("source", "n").agg(
        F.round(0.5 * (F.sum(in_vocab) + (1.0 - F.sum(qq))), 6).alias("jsd_bits")
    ).select("source", F.col("n").cast("long").alias("n_tokens"), "jsd_bits")


# --------------------------------------------------------------------------
# Kneser-Ney smoothed bigram LM (round 5 continuation)
# --------------------------------------------------------------------------
@register(
    "q_kneser_ney",
    driver=False,  # §2.11 LM extension (round 5) — pytest oracle
    oracle="""
WITH tok AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS w,
         unnest(range(len(string_split(text, ' ')))) AS pos
  FROM documents
), bi AS (
  SELECT a.w AS w1, b.w AS w2
  FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
), bc AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c FROM bi GROUP BY w1, w2
), left_t AS (
  SELECT w1, CAST(sum(c) AS BIGINT) AS cw1,
         CAST(count(*) AS BIGINT) AS n_after
  FROM bc GROUP BY w1
), right_t AS (
  SELECT w2, CAST(count(*) AS BIGINT) AS n_before FROM bc GROUP BY w2
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_bi FROM bc
)
SELECT w1, w2, c, cw1, n_after, n_before,
       round(greatest(c - 0.75, 0.0) / cw1
             + (0.75 / cw1) * n_after * (n_before / CAST(n_bi AS DOUBLE)), 6)
         AS p_kn
FROM bc JOIN left_t USING (w1) JOIN right_t USING (w2) CROSS JOIN tot
ORDER BY c DESC, w1, w2
LIMIT 20
""",
)
def q_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser-Ney smoothed bigram probabilities — the LM-quality upgrade
    over q_bigram_lm_score's add-k smoothing (SURVEY §2.11 corpus-LM tier):
    absolute discounting (d = 0.75) with the CONTINUATION back-off
    P_cont(w2) = N1+(·w2)/N1+(··), the estimator that fixes the
    "San Francisco" problem (high c(Francisco) but only one left context).
    Every ingredient is an exact integer census — bigram counts, prefix
    totals, distinct-continuation counts left and right, distinct-bigram
    total — assembled through one shared IEEE tree and rounded at 6 dp.
    Top-20 rows by the engine-stable (count DESC, w1, w2) order.

    Scale: the bigram build is a per-doc window (lag), then token-keyed
    aggs whose results are Heaps-law small; the final join broadcasts the
    marginal tables. One corpus-sized shuffle on (w1, w2)."""
    tok = table(spark, sf_dir, "documents").select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "w")
    )
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    bi = (
        tok.withColumn("w2", F.lead("w").over(wdoc))
        .filter(F.col("w2").isNotNull())
        .select(F.col("w").alias("w1"), "w2")
    )
    bc = bi.groupBy("w1", "w2").agg(F.count("*").alias("c"))
    left_t = bc.groupBy("w1").agg(
        F.sum("c").alias("cw1"), F.count("*").alias("n_after")
    )
    right_t = bc.groupBy("w2").agg(F.count("*").alias("n_before"))
    tot = bc.agg(F.count("*").alias("n_bi"))
    j = (
        bc.join(F.broadcast(left_t), "w1")
        .join(F.broadcast(right_t), "w2")
        .crossJoin(F.broadcast(tot))
    )
    p_kn = F.greatest(F.col("c") - 0.75, F.lit(0.0)) / F.col("cw1") + (
        0.75 / F.col("cw1")
    ) * F.col("n_after") * (F.col("n_before") / F.col("n_bi").cast("double"))
    return (
        j.select(
            "w1", "w2", "c", "cw1", "n_after", "n_before",
            F.round(p_kn, 6).alias("p_kn"),
        )
        .orderBy(F.col("c").desc(), "w1", "w2")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Positional phrase search (round 7)
# --------------------------------------------------------------------------
@register(
    "q_phrase_search",
    # driver slot since r8 (VERDICT r7 #1): positional-postings retrieval
    oracle="""
WITH toks AS MATERIALIZED (
  -- zipped parallel unnests (DuckDB 1.0 has no WITH ORDINALITY):
  -- positions are 1-based, matching Spark's posexplode+1
  SELECT doc_id, unnest(ws) AS w,
         CAST(unnest(range(1, len(ws) + 1)) AS BIGINT) AS pos
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
), big AS (
  SELECT w AS w1,
         lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2,
         doc_id
  FROM toks
), top1 AS (
  SELECT w1, w2 FROM big WHERE w2 IS NOT NULL
  GROUP BY w1, w2
  ORDER BY count(*) DESC, w1, w2 LIMIT 1
), t1 AS (SELECT doc_id, pos FROM toks JOIN top1 ON toks.w = top1.w1),
t2 AS (SELECT doc_id, pos FROM toks JOIN top1 ON toks.w = top1.w2),
hits AS (
  SELECT t1.doc_id, t1.pos
  FROM t1 JOIN t2 ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
)
SELECT (SELECT w1 FROM top1) AS w1,
       (SELECT w2 FROM top1) AS w2,
       doc_id,
       CAST(count(*) AS BIGINT) AS n_hits,
       CAST(min(pos) AS BIGINT) AS first_pos
FROM hits GROUP BY doc_id
""",
)
def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional-index phrase search: find the corpus's most frequent
    bigram (deterministic tie-break), then locate every exact-adjacency
    occurrence via the POSITIONAL POSTINGS JOIN — term-1 postings ⋈ term-2
    postings ON (doc, pos+1), the operation a phrase query runs against an
    inverted index with positions (SURVEY §2.11 retrieval tier; the
    positional extension of q_inverted_index). The ORACLE finds the same
    hits through a window-lead formulation — two independent phrasings of
    adjacency, hash-compared. Positions are 1-based in both engines
    (posexplode+1 ≡ WITH ORDINALITY).

    Scale: postings for the two query terms are term-selective slices of
    the token table (index lookups, not scans); the adjacency join is
    keyed on (doc, pos) — co-partitioned, linear in postings length. The
    bigram census is one (w1,w2) rollup; at 100 TB you'd read the two
    postings lists from the bucketed index q_inverted_index persists."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.posexplode(T.tokens(F.col("text"))).alias("pos0", "w"),
    ).select("doc_id", "w", (F.col("pos0") + 1).alias("pos"))
    w_next = Window.partitionBy("doc_id").orderBy("pos")
    big = toks.select(
        F.col("w").alias("w1"),
        F.lead("w").over(w_next).alias("w2"),
    ).filter(F.col("w2").isNotNull())
    top1 = (
        big.groupBy("w1", "w2")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "w1", "w2")
        .limit(1)
        .select("w1", "w2")
    )
    t1 = toks.join(F.broadcast(top1), toks.w == F.col("w1")).select(
        "doc_id", "pos", "w1", "w2"
    )
    t2 = toks.join(F.broadcast(top1), toks.w == F.col("w2")).select(
        F.col("doc_id").alias("d2"), F.col("pos").alias("p2")
    )
    hits = t1.join(
        t2, (t1.doc_id == t2.d2) & (t2.p2 == t1.pos + 1)
    )
    return hits.groupBy("doc_id").agg(
        F.first("w1").alias("w1"),
        F.first("w2").alias("w2"),
        F.count("*").cast("long").alias("n_hits"),
        F.min("pos").cast("long").alias("first_pos"),
    ).select("w1", "w2", "doc_id", "n_hits", "first_pos")
