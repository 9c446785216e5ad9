"""UDF/UDAF/grouped-map/side-input queries (SURVEY.md §2.10, §1.1)."""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import udfs as U
from ..operators import elementwise as ew
from ..operators import inference as _inference
from ..session import fan_out, table
from ._registry import register


@register(
    "q_pandas_udf_scalar",
    oracle="""
SELECT l_orderkey, l_linenumber,
       round(CASE WHEN l_extendedprice <> 0
                  THEN coalesce((l_extendedprice - l_discount * l_extendedprice) / l_extendedprice, 0.0)
                  ELSE 0.0 END, 6) AS spread
FROM lineitem WHERE l_linenumber <= 2
""",
)
def q_pandas_udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized scalar pandas UDF (Beam Map with arbitrary Python).
    The oracle recomputes the same arithmetic in SQL — proving the Arrow
    round trip is value-exact for doubles."""
    l = table(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") <= 2)
    lo = F.col("l_discount") * F.col("l_extendedprice")
    return l.select(
        "l_orderkey",
        "l_linenumber",
        F.round(U.relative_spread()(lo, F.col("l_extendedprice")), 6).alias("spread"),
    )


@register(
    "q_udaf_weighted_avg",
    # driver r1–r9; rotated off r10 (VERDICT r9 #2, wave 5) — §2.10 keeps
    # q_pandas_udf_scalar (tier 1) + q_run_inference + q_hashed_tf_vectors
    driver=False,
    oracle="""
SELECT l_returnflag,
       round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 4) AS w_avg_price
FROM lineitem GROUP BY l_returnflag
""",
)
def q_udaf_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom UDAF (Beam CombineFn) as a GROUPED_AGG pandas UDF: quantity-
    weighted mean price per flag. Floating-point caveat: pandas sums in a
    different order than SQL (error ~1e-8 on these magnitudes), so the
    quotient is rounded at 4 decimals — spacing 5e-5 makes a half-way flip
    vanishingly unlikely, where 6 decimals would leave ~2% risk per cell."""
    l = table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.round(U.weighted_avg()(l.l_extendedprice, l.l_quantity), 4).alias("w_avg_price")
    )


@register(
    "q_grouped_map_zscore",
    # rotated off r9 (VERDICT r8 #1): the UDF family keeps q_pandas_udf_scalar
    # + q_udaf_weighted_avg + q_run_inference on the surface
    driver=False,
    oracle="""
SELECT event_id, user_id,
       round(CASE WHEN stddev_pop(value) OVER w > 0
                  THEN (value - avg(value) OVER w) / stddev_pop(value) OVER w
                  ELSE 0.0 END, 6) AS zscore
FROM events
WINDOW w AS (PARTITION BY user_id)
""",
)
def q_grouped_map_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped map (applyInPandas): per-user z-score — the Beam
    GroupByKey+DoFn-over-iterable pattern, one Arrow batch per key group."""
    e = table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    out = e.groupBy("user_id").applyInPandas(
        U.zscore_per_group, schema="event_id long, user_id long, zscore double"
    )
    return out.select("event_id", "user_id", F.round("zscore", 6).alias("zscore"))


@register(
    "q_side_input_scalar",
    driver=False,  # side-input broadcast proven by q_join_broadcast
    oracle="""
SELECT o_orderkey, round(o_totalprice, 2) AS totalprice
FROM orders
WHERE o_totalprice > 1.8 * (SELECT avg(o_totalprice) FROM orders)
""",
)
def q_side_input_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beam ``AsSingleton`` side input: a global scalar joined to every row
    without driver-side collection — 1-row agg broadcast into the filter
    (the SQL scalar subquery, dataflow-style)."""
    o = table(spark, sf_dir, "orders")
    avg_price = o.agg((1.8 * F.avg("o_totalprice")).alias("threshold"))
    return (
        o.crossJoin(F.broadcast(avg_price))
        .filter(F.col("o_totalprice") > F.col("threshold"))
        .select("o_orderkey", F.round("o_totalprice", 2).alias("totalprice"))
    )


@register(
    "q_run_inference",
    # oracle generated from the SAME committed model artifact the Spark side
    # loads — see operators/inference.lid_oracle_sql for the float-parity
    # contract (sequential accumulation, count/length features)
    oracle=_inference.lid_oracle_sql(),
)
def q_run_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beam ``RunInference`` with a REAL model (SURVEY §2.10 "ML inference"):
    the language-ID softmax regression trained by models/train_lid.py on the
    committed multilingual corpus (holdout accuracy 1.0, pinned in
    tests/test_run_inference.py). The artifact is loaded once per Python
    worker (ModelHandler contract), each Arrow batch scored as one numpy
    matrix pass; rounding + fixed-order argmax run JVM-side in codegen.

    100 TB: map-only — no shuffle; the ~7 KB artifact is worker-cached
    (cluster path: spark.files / object store inside load_model); swapping a
    framework model changes only the handler, not the plumbing."""
    model = _inference.load_lid_model()
    classes = model["classes"]
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    raw = _inference.run_inference(
        docs,
        _inference.LidModelHandler(keep=("doc_id",)),
        "doc_id long, " + ", ".join(f"s_{c} double" for c in classes),
    )
    rounded = raw.select(
        "doc_id", *[F.round(F.col(f"s_{c}"), 6).alias(f"s_{c}") for c in classes]
    )
    pred = None
    for cls in classes[:-1]:
        cond = None
        for other in classes:
            if other == cls:
                continue
            c = F.col(f"s_{cls}") >= F.col(f"s_{other}")
            cond = c if cond is None else (cond & c)
        pred = (
            F.when(cond, F.lit(cls)) if pred is None else pred.when(cond, F.lit(cls))
        )
    pred = pred.otherwise(F.lit(classes[-1]))
    return rounded.select(
        "doc_id", pred.alias("pred_lang"), *[f"s_{c}" for c in classes]
    )


@register(
    "q_inference_stub",
    driver=False,  # r7 rotation: UDF family keeps q_pandas_udf_scalar/q_udaf_weighted_avg/q_python_udtf/q_grouped_map_zscore
    # the stub model is deterministic arithmetic, so its predictions ARE
    # SQL-expressible: both sides accumulate in float64 and round to 6 dp,
    # burying the pairwise-vs-sequential summation ulp (upgraded from
    # rows-only, round 2)
    oracle="""
SELECT vec_id,
       round(0.5 + 2.0 * list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)))
                       / len(embedding), 6) AS score
FROM embeddings
""",
)
def q_inference_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beam ``RunInference`` pattern (SURVEY §2.10): model loaded ONCE per
    task via the par_do setup hook, then batched 'predictions' over Arrow
    batches. The 'model' is a deterministic stub (no ML libs offline); the
    plumbing — iterator form, setup hoisting, vectorized scoring — is real."""

    def load_model():
        # stands in for an expensive load (weights from object store, etc.)
        return {"bias": 0.5, "scale": 2.0}

    def predict(batches: Iterator[pd.DataFrame], model) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            # float64 accumulation (the Arrow column is float32): keeps the
            # prediction within one ulp of the oracle's DOUBLE list_sum
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "score": pdf["embedding"].map(
                        lambda v: round(
                            float(
                                model["bias"]
                                + model["scale"]
                                * np.asarray(v, dtype=np.float64).sum() / len(v)
                            ),
                            6,
                        )
                    ),
                }
            )

    e = fan_out(table(spark, sf_dir, "embeddings"))
    return ew.par_do(e, predict, "vec_id long, score double", setup=load_model)


@register(
    "q_python_udtf",
    driver=False,  # r8: slot went to q_run_inference; UDF family keeps 3 slots
    oracle="""
SELECT doc_id, word, CAST(pos AS INTEGER) AS pos
FROM (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS word,
         unnest(range(len(string_split(text, ' ')))) AS pos
  FROM documents WHERE doc_id < 20
)
""",
)
def q_python_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Python UDTF (SURVEY §2.10 "UDTF 1→N"): a table function
    yielding (word, position) rows per document — the Beam FlatMap-DoFn shape
    as a first-class SQL-callable function (lateral join)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="word: string, pos: int")
    class PosTokens:
        def eval(self, text: str):
            for i, w in enumerate(text.split(" ")):
                yield w, i

    spark.udtf.register("pos_tokens", PosTokens)
    table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20).createOrReplaceTempView(
        "docs_udtf"
    )
    return spark.sql(
        "SELECT doc_id, t.word, t.pos FROM docs_udtf, LATERAL pos_tokens(text) t"
    )


@register(
    "q_cogroup_apply",
    driver=False,  # extra §2.10 proof beyond the driver window
    oracle="""
WITH c AS (
  SELECT c_nationkey AS nationkey, count(*) AS n_cust, sum(c_acctbal) AS cb
  FROM customer GROUP BY 1
), s AS (
  SELECT s_nationkey AS nationkey, count(*) AS n_supp, sum(s_acctbal) AS sb
  FROM supplier GROUP BY 1
)
SELECT nationkey,
       COALESCE(n_cust, 0) AS n_cust,
       COALESCE(n_supp, 0) AS n_supp,
       round(COALESCE(cb, 0) - COALESCE(sb, 0), 2) AS balance_gap
FROM c FULL JOIN s USING (nationkey)
""",
)
def q_cogroup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped applyInPandas (SURVEY §2.10): customer and supplier grouped
    on nationkey, BOTH groups handed to one Arrow-batched kernel per key —
    the two-input custom-logic escape hatch (Beam CoGroupByKey + DoFn).
    Each side shuffles once on the key; the kernel sees bounded per-key
    groups. The oracle reproduces it as aggregate + FULL JOIN."""
    c = table(spark, sf_dir, "customer").select("c_nationkey", "c_acctbal")
    s = table(spark, sf_dir, "supplier").select("s_nationkey", "s_acctbal")
    return (
        c.groupBy("c_nationkey")
        .cogroup(s.groupBy("s_nationkey"))
        .applyInPandas(
            U.nation_balance_recon,
            schema="nationkey long, n_cust long, n_supp long, balance_gap double",
        )
    )


@register(
    "q_map_in_arrow",
    driver=False,  # §2.10 Arrow RecordBatch surface — pytest oracle
    oracle="""
SELECT event_id,
       value * 100                  AS value_cents,
       upper(event_type)            AS event_type_uc
FROM events
WHERE value IS NOT NULL AND value >= 5.0
""",
)
def q_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``df.mapInArrow`` — the lowest-level Python execution surface
    (SURVEY §2.10): the kernel receives raw ``pyarrow.RecordBatch``es,
    no pandas conversion at all — the zero-copy path for kernels that
    operate on Arrow buffers directly (tokenizers, codecs, FFI into
    native libs). The kernel filters and transforms batch-at-a-time via
    ``pyarrow.compute``; the oracle replays the arithmetic in SQL,
    proving the Arrow round trip value-exact. Completes the §2.10 ladder:
    mapInArrow < mapInPandas < pandas UDF < built-in expressions.

    Scale: per-batch narrow transform, no shuffle, batch size bounded by
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` — memory-safe at
    any scale; columns prune at the scan because the kernel declares its
    schema up front."""
    import pyarrow as pa
    import pyarrow.compute as pc

    schema = "event_id long, value_cents double, event_type_uc string"

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            keep = pc.and_(
                pc.is_valid(b.column(1)),
                pc.greater_equal(b.column(1), pa.scalar(5.0)),
            )
            f = b.filter(keep)
            yield pa.RecordBatch.from_arrays(
                [
                    f.column(0),
                    pc.multiply(f.column(1), pa.scalar(100.0)),
                    pc.utf8_upper(f.column(2)),
                ],
                names=["event_id", "value_cents", "event_type_uc"],
            )

    e = fan_out(table(spark, sf_dir, "events")).select(
        "event_id", "value", "event_type"
    )
    return e.mapInArrow(kernel, schema=schema)
