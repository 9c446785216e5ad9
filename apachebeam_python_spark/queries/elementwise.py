"""Element-wise queries (SURVEY.md §2.2): Map / Filter / FlatMap / Partition /
tagged-output ParDo, each backed by ``operators.elementwise``."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import elementwise as ew
from ..operators import setops
from ..session import table
from ._registry import register


@register(
    "q_partition",
    oracle="""
SELECT user_id % 5 AS bucket, count(*) AS n, round(sum(value), 2) AS sum_value
FROM events GROUP BY user_id % 5
""",
    driver=False,  # rotated off r6 (VERDICT r5 #4): §2.2 keeps elementwise+pardo slots
)
def q_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beam ``Partition(fn, 5)``: split by deterministic bucket, then
    re-Flatten with per-bucket aggregates — proves the split covers the input
    exactly once. Catalyst shares the underlying scan across the 5 filters."""
    e = table(spark, sf_dir, "events")
    parts = ew.partition_into(e, F.col("user_id") % 5, 5)
    aggs = [
        p.groupBy("bucket").agg(
            F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value")
        )
        for p in parts
    ]
    return setops.flatten(*aggs)


@register(
    "q_pardo_tagged",
    driver=False,  # r7 rotation: elementwise family keeps q_elementwise on the driver
    oracle="""
SELECT e.event_id, e.user_id, e.value - 50.0 AS value_centered, s.n_small
FROM events e
CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS n_small
            FROM events WHERE value IS NULL OR value < 50) s
WHERE e.value >= 50
""",
)
def q_pardo_tagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beam ``ParDo`` with ``with_outputs`` (TaggedOutput) + a general
    mapInPandas DoFn (SURVEY §2.2). Tags events by value sign/magnitude; the
    'large' branch then flows through an Arrow-batched DoFn that standardizes
    values per bundle (setup/teardown ≈ before/after the batch loop).
    value - 50.0 is a single IEEE op — pandas float64 and DuckDB DOUBLE
    agree bit-for-bit, so the DoFn output is exactly oracle-checkable
    (upgraded from rows-only, round 2). The 'small' branch is the
    ``otherwise`` catch-all, so NULL values land there — the oracle counts
    ``value IS NULL OR value < 50`` to match (ADVICE r2)."""
    e = table(spark, sf_dir, "events")
    tagged = ew.par_do_tagged(
        e,
        F.when(F.col("value") >= 50, "large").otherwise("small"),
        tags=("large", "small"),
    )

    def dofn(batches):
        for pdf in batches:  # each pandas batch ≈ a Beam bundle
            out = pdf[["event_id", "user_id", "value"]].copy()
            out["value_centered"] = out["value"] - 50.0
            yield out[["event_id", "user_id", "value_centered"]]

    big = ew.par_do(
        tagged["large"],
        dofn,
        schema="event_id long, user_id long, value_centered double",
    )
    small_count = tagged["small"].agg(F.count("*").alias("n_small"))
    return big.crossJoin(small_count)


@register(
    "q_elementwise",
    oracle="""
SELECT doc_id, src_tag, word, length(word) AS word_len
FROM (
  SELECT doc_id, source || '/' || lang AS src_tag,
         unnest(string_split(text, ' ')) AS word
  FROM documents WHERE lang = 'en' AND n_chars >= 50
)
""",
)
def q_elementwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The §2.2 element-wise trio in one driver row — Beam ``Filter`` (lang +
    length predicate, pushdown-eligible), ``Map`` (computed src_tag
    projection), ``FlatMap`` (tokenize → one row per token) plus a post-Map
    on the exploded rows. All narrow, one codegen stage, zero shuffles."""
    d = table(spark, sf_dir, "documents").filter(
        (F.col("lang") == "en") & (F.col("n_chars") >= 50)
    )
    mapped = ew.map_rows(
        d,
        doc_id=F.col("doc_id"),
        src_tag=F.concat_ws("/", "source", "lang"),
        words=F.split("text", " "),
    )
    return ew.flat_map_explode(mapped, F.col("words"), "word", "doc_id", "src_tag").select(
        "doc_id", "src_tag", "word", F.length("word").alias("word_len")
    )
