"""Sort/limit and set-operation queries (SURVEY.md §2.6), backed by
``operators.setops`` and ``operators.aggregations.top_k_global``."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import aggregations as agg
from ..operators import setops as S
from ..session import table
from ._registry import register


@register(
    "q_order_limit",
    driver=False,  # r7 rotation: ordering family keeps q_setops + q_topk_per_key
    oracle="""
SELECT o_orderkey, o_orderpriority, o_orderdate, round(o_totalprice, 2) AS totalprice
FROM orders
ORDER BY o_orderpriority, o_totalprice DESC, o_orderkey
LIMIT 20
""",
)
def q_order_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key ORDER BY + LIMIT → TakeOrderedAndProject (partial top-k per
    partition, no global sort). Total order via o_orderkey tiebreak."""
    o = table(spark, sf_dir, "orders")
    top = agg.top_k_global(
        o,
        [F.col("o_orderpriority"), F.col("o_totalprice").desc(), F.col("o_orderkey")],
        20,
    )
    return top.select(
        "o_orderkey", "o_orderpriority", "o_orderdate",
        F.round("o_totalprice", 2).alias("totalprice"),
    )


@register(
    "q_except_all",
    driver=False,  # kept: the only exceptAll plan (Generate replicaterows)
    oracle="""
SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
EXCEPT ALL
SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'P'
""",
)
def q_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (bag difference, multiplicity-aware): per-priority surplus
    of finished over pending orders."""
    o = table(spark, sf_dir, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select("o_orderpriority")
    p = o.filter(F.col("o_orderstatus") == "P").select("o_orderpriority")
    return S.except_all(f, p)


@register(
    "q_setops",
    oracle="""
SELECT 'union_all' AS tag, kind || '#' || nationkey AS key, count(*) AS n FROM (
  SELECT c_nationkey AS nationkey, 'customer' AS kind FROM customer
  UNION ALL
  SELECT s_nationkey AS nationkey, 'supplier' AS kind FROM supplier
) GROUP BY kind, nationkey
UNION ALL
SELECT 'union_distinct', CAST(nationkey AS VARCHAR), CAST(0 AS BIGINT) FROM (
  SELECT c_nationkey AS nationkey FROM customer
  UNION
  SELECT s_nationkey FROM supplier
)
UNION ALL
SELECT 'intersect', CAST(nationkey AS VARCHAR), CAST(0 AS BIGINT) FROM (
  SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9000
  INTERSECT
  SELECT s_nationkey FROM supplier
)
UNION ALL
SELECT 'except', CAST(nationkey AS VARCHAR), CAST(0 AS BIGINT) FROM (
  SELECT n_nationkey AS nationkey FROM nation
  EXCEPT
  SELECT s_nationkey FROM supplier WHERE s_acctbal > 8000
)
UNION ALL
SELECT 'except_all', o_orderpriority, count(*) FROM (
  SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
  EXCEPT ALL
  SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'P'
) GROUP BY o_orderpriority
""",
)
def q_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete SURVEY §2.6 set-operation family in ONE tagged driver row:
    Beam ``Flatten`` with multiplicity counts, distinct union (also the §2.3
    Distinct primitive), INTERSECT, EXCEPT, and bag-difference EXCEPT ALL
    aggregated per priority (q_except_all keeps Spark's own ``exceptAll``).

    100 TB shape: the naive form re-scans customer ×3, supplier ×4 and
    orders ×2 with different filters (ReusedExchange can't fire across
    them), so instead each base table is scanned and shuffled ONCE into a
    per-key aggregate carrying conditional sub-counts, and every set
    arm forks off those tiny aggregates (persisted; joins between them are
    AQE-broadcast). Set semantics are reproduced from counts: INTERSECT =
    semi-join of key sets, EXCEPT = anti-join, EXCEPT ALL multiplicity =
    surplus count_F - count_P. Parity with the plain-SQL oracle proves the
    count-based rewrite exact."""
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    o = table(spark, sf_dir, "orders")

    # one scan + one shuffle per base table; O(distinct keys) results
    cust = c.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.count("*").alias("n_all"),
        F.count(F.when(F.col("c_acctbal") > 9000, 1)).alias("n_hi"),
    ).persist()
    supp = s.groupBy(F.col("s_nationkey").alias("nationkey")).agg(
        F.count("*").alias("n_all"),
        F.count(F.when(F.col("s_acctbal") > 8000, 1)).alias("n_hi"),
    ).persist()
    ords = o.groupBy("o_orderpriority").agg(
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_f"),
        F.count(F.when(F.col("o_orderstatus") == "P", 1)).alias("n_p"),
    )

    union_all = (
        cust.select(F.lit("customer").alias("kind"), "nationkey", "n_all")
        .unionByName(supp.select(F.lit("supplier").alias("kind"), "nationkey", "n_all"))
        .select(
            F.lit("union_all").alias("tag"),
            F.concat_ws("#", "kind", "nationkey").alias("key"),
            F.col("n_all").alias("n"),
        )
    )

    def _keyed(df, tag):
        return df.select(
            F.lit(tag).alias("tag"),
            F.col("nationkey").cast("string").alias("key"),
            F.lit(0).cast("long").alias("n"),
        )

    union_distinct = _keyed(
        cust.select("nationkey").union(supp.select("nationkey")).distinct(),
        "union_distinct",
    )
    inter = _keyed(
        cust.filter(F.col("n_hi") > 0).join(supp, "nationkey", "left_semi"),
        "intersect",
    )
    exc = _keyed(
        n.select(F.col("n_nationkey").alias("nationkey")).join(
            supp.filter(F.col("n_hi") > 0), "nationkey", "left_anti"
        ),
        "except",
    )
    exc_all = ords.filter(F.col("n_f") > F.col("n_p")).select(
        F.lit("except_all").alias("tag"),
        F.col("o_orderpriority").alias("key"),
        (F.col("n_f") - F.col("n_p")).alias("n"),
    )
    return union_all.unionByName(union_distinct).unionByName(inter).unionByName(exc).unionByName(exc_all)
