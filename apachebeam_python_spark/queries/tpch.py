"""Warehouse-benchmark join/agg shapes (TPC-H-style, SURVEY §2.3-2.4,
§2.6 composition showcase).

The flagship q_pricing_summary (Q1 shape) and q_shipping_priority (Q3
shape) cover the scan-agg and selective-star families; this module rounds
out the classic decision-support vocabulary a reference user would expect
to run unchanged: multi-way join reordering (Q7/Q8), conditional-share
aggregation (Q8), left-outer histograms (Q13), decorrelated scalar
subqueries (Q2/Q15), aggregate-membership and nested semi joins
(Q4/Q18/Q20), EXISTS/NOT-EXISTS censuses (Q21), anti-join opportunity
scans (Q22), disjunctive bracket predicates (Q19), and group-vs-global
share HAVINGs (Q11). The Q6, Q12, Q14 and Q17 shapes are not registered:
the kept shapes' plans carry all of their operators
(tests/test_plans.py::SUBSUMED). Constants are adapted to the fixture's
value domains (NATION_i, Brand#N, one-word p_type, 1995-2001 dates);
where the fixture lacks a column (partsupp, commit/receipt dates,
c_phone) the docstring states the adaptation and the planning shape is
preserved. Revenue always sums
through DECIMAL(18,4) so hashes are order-independent at any scale
(SURVEY §7.4.4).

100 TB design notes are per-query; the common spine: dimension tables
(nation, region, filtered customer/supplier/part) broadcast, fact-side
filters are pushed into the parquet scan, and every aggregation is a
partial+final hash agg on the fact table's natural key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import table
from ._registry import register


def _rev(expr_price="l_extendedprice", expr_disc="l_discount"):
    """Exact order-independent revenue term: price·(1−disc) via DECIMAL."""
    return (F.col(expr_price) * (1 - F.col(expr_disc))).cast("decimal(18,4)")


# --------------------------------------------------------------------------
# Q7 shape: volume shipping between two nations
# --------------------------------------------------------------------------
@register(
    "q_volume_shipping",
    driver=False,  # §2.4 multi-way join reordering — pytest oracle
    oracle="""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
       CAST(round(CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                     AS DECIMAL(18,4))) AS DOUBLE), 4) AS DOUBLE) AS revenue
FROM supplier s
JOIN lineitem l ON s.s_suppkey = l.l_suppkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
  AND l.l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
GROUP BY 1, 2, 3
""",
)
def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape — bilateral trade volume: revenue shipped between two
    specific nations (either direction) by year. The disjunctive nation
    predicate is the planning challenge: it can't be split per join side,
    so both nation joins stay selective broadcasts and the pair filter
    runs on the joined row.

    Scale: nation is 25 rows (broadcast, always); supplier and customer
    reduce to the two relevant nations BEFORE touching facts — the
    broadcast inner joins on s/c act as semi-filters, so lineitem and
    orders shuffle only on their own equi keys and AQE sees tiny build
    sides. The year agg is a partial+final hash agg on a 2×2×|years|
    result."""
    n = table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    s = (
        table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(n.select(F.col("n_nationkey").alias("s_nationkey"),
                                 F.col("n_name").alias("supp_nation"))),
            "s_nationkey",
        )
        .select("s_suppkey", "supp_nation")
    )
    c = (
        table(spark, sf_dir, "customer")
        .join(
            F.broadcast(n.select(F.col("n_nationkey").alias("c_nationkey"),
                                 F.col("n_name").alias("cust_nation"))),
            "c_nationkey",
        )
        .select("c_custkey", "cust_nation")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between(
            F.lit("1996-01-01").cast("timestamp"),
            F.lit("1997-12-31").cast("timestamp"),
        )
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    joined = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return (
        joined.groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(F.round(F.sum(_rev()).cast("double"), 4).alias("revenue"))
    )


# --------------------------------------------------------------------------
# Q8 shape: national market share within a region
# --------------------------------------------------------------------------
@register(
    "q_market_share",
    # driver slot since r9 (VERDICT r8 #1): first TPC-H deep-join driver grade
    oracle="""
SELECT o_year,
       round(CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume
                           ELSE CAST(0.0 AS DECIMAL(18,4)) END) AS DOUBLE)
             / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share
FROM (
  SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
         CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))
           AS volume,
         n2.n_name AS supp_nation
  FROM part p
  JOIN lineitem l ON p.p_partkey = l.l_partkey
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
  JOIN region r ON n1.n_regionkey = r.r_regionkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
  WHERE r.r_name = 'EUROPE'
    AND p.p_type = 'PROMO'
    AND o.o_orderdate BETWEEN TIMESTAMP '1996-01-01'
                          AND TIMESTAMP '1997-12-31'
)
GROUP BY o_year
""",
)
def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape — one nation's share of a region's PROMO-part revenue
    by order year: the conditional-share aggregation (numerator = CASE'd
    subset of the same sum). Both numerator and denominator sum through
    DECIMAL before ONE double division, so the share is exact and
    order-independent; a region with revenue is guaranteed by the
    denominator's own group (no 0/0 guard needed — groups exist only
    where volume rows exist).

    Scale: five dimension joins — all broadcast (nation/region always;
    PROMO-filtered part and region-filtered customer reduce ~5-25× before
    broadcast). lineitem is the only shuffled table, once on l_orderkey;
    the share agg is |years| rows."""
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    n1 = table(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    ).select(F.col("n_nationkey").alias("cust_nk"))
    c = table(spark, sf_dir, "customer").join(
        F.broadcast(n1), F.col("c_nationkey") == F.col("cust_nk")
    ).select("c_custkey")
    n2 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("supp_nk"), F.col("n_name").alias("supp_nation")
    )
    s = table(spark, sf_dir, "supplier").join(
        F.broadcast(n2), F.col("s_nationkey") == F.col("supp_nk")
    ).select("s_suppkey", "supp_nation")
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select(
        "p_partkey"
    )
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between(
            F.lit("1996-01-01").cast("timestamp"),
            F.lit("1997-12-31").cast("timestamp"),
        )
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    li = table(spark, sf_dir, "lineitem")
    vol = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            _rev().alias("volume"),
            "supp_nation",
        )
    )
    zero = F.lit(0.0).cast("decimal(18,4)")
    return vol.groupBy("o_year").agg(
        F.round(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_3", F.col("volume"))
                .otherwise(zero)
            ).cast("double")
            / F.sum("volume").cast("double"),
            6,
        ).alias("mkt_share")
    )


# --------------------------------------------------------------------------
# Q10 shape: returned-item revenue ranking
# --------------------------------------------------------------------------
@register(
    "q_returned_items",
    driver=False,  # §2.4+§2.6 ranked join rollup — pytest oracle
    oracle="""
SELECT c.c_custkey, c.c_name,
       CAST(round(CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                     AS DECIMAL(18,4))) AS DOUBLE), 4) AS DOUBLE) AS revenue,
       round(c.c_acctbal, 2) AS c_acctbal, n.n_name
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate BETWEEN TIMESTAMP '1996-01-01'
                        AND TIMESTAMP '1996-12-31'
GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
)
def q_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape — the 20 customers who returned the most revenue in
    a year: selective fact filter (returnflag + order date) feeding a
    customer rollup with dimension attributes carried through the
    grouping key, then a deterministic (revenue, custkey) global top-20.

    Scale: returnflag and the order-date window prune the fact side at
    the scan (both PushedFilters); nation broadcasts; the customer join
    shuffles on custkey once and the rollup rides the same partitioning.
    ORDER BY + LIMIT collapses to TakeOrderedAndProject — per-partition
    top-20, no global sort."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between(
            F.lit("1996-01-01").cast("timestamp"),
            F.lit("1996-12-31").cast("timestamp"),
        )
    )
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    )
    return (
        joined.groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.round(F.sum(_rev()).cast("double"), 4).alias("revenue"))
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.round("c_acctbal", 2).alias("c_acctbal"),
            "n_name",
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Q13 shape: customer order-count distribution
# --------------------------------------------------------------------------
@register(
    "q_cust_order_distribution",
    driver=False,  # §2.4 outer-join histogram — pytest oracle
    oracle="""
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
  SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
  FROM customer c
  LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
)
def q_cust_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape — how many customers placed how many (non-urgent)
    orders, INCLUDING the zero bucket: the left-outer histogram.
    count(o_orderkey) (not count(*)) makes unmatched customers count 0 in
    both engines; the join-side predicate lives in the ON clause so those
    customers survive the outer join.

    Scale: two aggregations — the per-customer count rides the join's
    custkey shuffle; the distribution rollup is a |distinct counts|-sized
    partial+final agg. At 100 TB pre-aggregate orders per custkey BEFORE
    the outer join (same result, order-side shuffle halves)."""
    c = table(spark, sf_dir, "customer").select("c_custkey")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey)
            & (o.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


# --------------------------------------------------------------------------
# Q18 shape: large-volume orders (aggregate-membership semi join)
# --------------------------------------------------------------------------
@register(
    "q_large_orders",
    driver=False,  # §2.4 agg-membership semi join — pytest oracle
    oracle="""
SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
       round(o.o_totalprice, 2) AS o_totalprice,
       CAST(round(CAST(sum(CAST(l.l_quantity AS DECIMAL(18,4)))
            AS DOUBLE), 4) AS DOUBLE) AS sum_qty
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey HAVING sum(l_quantity) > 300
)
GROUP BY c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice
ORDER BY o_totalprice DESC, o.o_orderkey
LIMIT 20
""",
)
def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape — the 20 biggest orders whose total quantity tops a
    threshold: an IN-subquery over a grouped HAVING, i.e. a semi join
    against an AGGREGATED set (not a raw column). Spark expresses the
    membership as a left-semi join on the aggregated keys — same
    semantics, explicit plan. The quantity HAVING compares integral
    doubles (exact at any partitioning); the output sum goes through
    DECIMAL by repo convention.

    Scale: the HAVING-set build is a partial+final agg on l_orderkey —
    at 100 TB its map-side combine collapses each partition's order
    fragments before the shuffle, and the surviving key set (top ~0.1%)
    broadcasts back as the semi-join probe. The final rollup rides the
    orderkey shuffle; ORDER BY+LIMIT is TakeOrderedAndProject."""
    li = table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 300)
        .select("l_orderkey")
    )
    o = table(spark, sf_dir, "orders").join(
        F.broadcast(big), F.col("o_orderkey") == big.l_orderkey, "left_semi"
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
    )
    return (
        joined.groupBy(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice"
        )
        .agg(
            F.round(
                F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double"),
                4,
            ).alias("sum_qty")
        )
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "sum_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(20)
    )


# ==========================================================================
# Round-3 completion wave: the remaining classic decision-support shapes
# (Q2/Q4/Q9/Q11/Q15/Q16/Q19/Q20/Q21/Q22), adapted to the fixture's
# columns — there is no partsupp table and no commit/receipt dates, so the
# supply-offer shapes derive their bridge from lineitem aggregates and the
# lateness shapes proxy "late" as shipping long after the order date. Each
# docstring states the adaptation. All DECIMAL-exact by repo convention.
# ==========================================================================


# --------------------------------------------------------------------------
# Q4 shape: order-priority checking (EXISTS semi join)
# --------------------------------------------------------------------------
@register(
    "q_priority_fulfillment",
    driver=False,  # §2.4 EXISTS → left-semi join — pytest oracle
    oracle="""
SELECT o.o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-07-01'
  AND o.o_orderdate <  TIMESTAMP '1996-10-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  )
GROUP BY o.o_orderpriority
""",
)
def q_priority_fulfillment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape — orders per priority that had at least one slow
    line in a quarter. Adaptation: the fixture has no commit/receipt
    dates, so "slow" is a line shipped more than 60 days after the order
    date (a correlated predicate between the two tables, just like the
    original's l_commitdate < l_receiptdate). The EXISTS becomes an
    explicit left-semi join whose condition carries BOTH the key equality
    and the correlated date comparison.

    Scale: the quarter filter prunes orders at the scan (partition
    pruning on o_orderdate at 100 TB); the semi join shuffles both sides
    on orderkey ONCE and emits each order at most once — no dedup pass,
    no fan-out. Priority rollup is a 5-row hash agg."""
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    slow = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return slow.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


# --------------------------------------------------------------------------
# Q15 shape: top supplier (scalar-max subquery over a derived view)
# --------------------------------------------------------------------------
@register(
    "q_top_supplier",
    driver=False,  # §2.3 scalar-subquery max over a derived agg — pytest oracle
    oracle="""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
           AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name,
       CAST(round(CAST(r.total_revenue AS DOUBLE), 4) AS DOUBLE)
         AS total_revenue
FROM supplier s
JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
""",
)
def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape — the supplier(s) with the maximum revenue in a
    quarter: a derived revenue view consumed twice (once for the global
    max scalar, once as the join probe). The revenue totals stay DECIMAL
    end-to-end, so the equality against the max is exact — no float
    tie hazards — and ties (multiple top suppliers) surface identically
    in both engines.

    Scale: the view is one partial+final agg keyed l_suppkey (|S| rows
    out); Spark reuses the aggregated exchange for both consumers
    (ReusedExchange), the max reduces |S| rows to a 1-row broadcast, and
    the supplier join broadcasts the handful of max rows. Nothing big
    moves twice."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_rev()).alias("total_revenue")
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("mx"))
    top = revenue.join(
        F.broadcast(max_rev), revenue.total_revenue == F.col("mx"), "inner"
    ).select("supplier_no", "total_revenue")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return s.join(F.broadcast(top), s.s_suppkey == top.supplier_no).select(
        "s_suppkey",
        "s_name",
        F.round(F.col("total_revenue").cast("double"), 4).alias("total_revenue"),
    )


# --------------------------------------------------------------------------
# Q19 shape: discounted revenue under disjunctive bracket predicates
# --------------------------------------------------------------------------
@register(
    "q_bracket_revenue",
    driver=False,  # §2.2 disjunctive multi-bracket filter — pytest oracle
    oracle="""
SELECT CAST(round(CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                    AS DECIMAL(18,4))) AS DOUBLE), 4) AS DOUBLE) AS revenue,
       count(*) AS n_lines
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 25
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#21' AND p.p_size BETWEEN 1 AND 35
       AND l.l_quantity BETWEEN 20 AND 30)
""",
)
def q_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape — revenue from three disjunctive (brand, size,
    quantity) brackets: the OR-of-ANDs predicate that straddles the join
    (part attributes AND lineitem attributes in each arm), so it can only
    evaluate post-join. The planner test is that the part-only residue
    (brand ∈ {3,12,21}, size ≥ 1) still gets extracted and pushed below
    the join even though the full predicate can't be.

    Scale: part prunes to 3 brands before broadcasting; lineitem keeps a
    quantity ≤ 30 residual at its scan (the union of arm ranges);
    the disjunction itself is pure codegen on the joined row. One
    broadcast join, one 1-row agg — no shuffle of the fact table."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    arm = (
        (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#21")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(arm)
        .agg(
            F.round(F.sum(_rev()).cast("double"), 4).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


# --------------------------------------------------------------------------
# Q22 shape: dormant high-balance customers (anti join + scalar threshold)
# --------------------------------------------------------------------------
@register(
    "q_dormant_customers",
    driver=False,  # §2.4 anti join + scalar-subquery threshold — pytest oracle
    oracle="""
WITH eligible AS (
  SELECT c_custkey % 7 AS cust_band, c_custkey, c_acctbal
  FROM customer
  WHERE c_custkey % 7 IN (0, 1, 3)
    AND c_acctbal > (
      SELECT avg(c_acctbal) FROM customer
      WHERE c_acctbal > 0.0 AND c_custkey % 7 IN (0, 1, 3)
    )
)
SELECT cust_band, count(*) AS numcust,
       CAST(round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE), 2)
            AS DOUBLE) AS totacctbal
FROM eligible e
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = e.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '1999-01-01')
GROUP BY cust_band
""",
)
def q_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape — the global-sales-opportunity census: customers in
    selected "country bands" with above-average positive balances and no
    order since 1999 (every fixture customer has SOME order, so literal
    never-ordered is vacuous — dormancy keeps the anti join meaningful).
    Adaptation: the fixture has no c_phone, so the country code is
    c_custkey % 7 (deterministic, engine-identical integer arithmetic).
    The three-part structure is intact: a scalar-subquery threshold (avg
    positive balance), a NOT EXISTS anti join against recent orders, and
    a per-band rollup.

    Scale: the threshold is a 1-row broadcast from a scan-level agg; the
    anti join is the only shuffle — customer vs orders' custkey
    projection, both key-partitioned once (orders dedups map-side to its
    distinct custkeys). Band rollup is a |bands|-row agg. The float avg
    threshold compares identically in both engines because avg of the
    same double multiset divides an IEEE-exact sum by an exact count —
    and the strict > sits far from any customer's exact balance."""
    c = table(spark, sf_dir, "customer").filter(
        (F.col("c_custkey") % 7).isin(0, 1, 3)
    )
    thresh = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    eligible = (
        c.join(F.broadcast(thresh))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .select((F.col("c_custkey") % 7).alias("cust_band"), "c_custkey", "c_acctbal")
    )
    dormant = eligible.join(
        o, eligible.c_custkey == o.o_custkey, "left_anti"
    )
    return dormant.groupBy("cust_band").agg(
        F.count("*").alias("numcust"),
        F.round(
            F.sum(F.col("c_acctbal").cast("decimal(18,4)")).cast("double"), 2
        ).alias("totacctbal"),
    )


# --------------------------------------------------------------------------
# Q2 shape: minimum-cost supplier per part (correlated-min join-back)
# --------------------------------------------------------------------------
@register(
    "q_min_cost_supplier",
    driver=False,  # §2.4 correlated-min subquery → join-back — pytest oracle
    oracle="""
WITH eu AS (
  SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
  FROM supplier s
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'EUROPE'
), offers AS (
  SELECT l.l_partkey, l.l_suppkey,
         min(l.l_extendedprice / l.l_quantity) AS unit_price
  FROM lineitem l
  JOIN eu ON eu.s_suppkey = l.l_suppkey
  GROUP BY 1, 2
), best AS (
  SELECT l_partkey, min(unit_price) AS best_price FROM offers GROUP BY 1
)
SELECT eu.s_acctbal, eu.s_name, eu.n_name, p.p_partkey, p.p_type,
       CAST(floor(o.unit_price * 10000 + 0.5) AS BIGINT) AS unit_price_e4
FROM offers o
JOIN best b ON o.l_partkey = b.l_partkey AND o.unit_price = b.best_price
JOIN part p ON p.p_partkey = o.l_partkey
JOIN eu ON eu.s_suppkey = o.l_suppkey
WHERE p.p_type = 'STANDARD' AND p.p_size BETWEEN 10 AND 20
""",
)
def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape — for each qualifying part, the European supplier(s)
    quoting the minimum unit price: the correlated-min subquery realized
    as an aggregate + join-back. Adaptation: there is no partsupp table,
    so the supply-offer relation derives from lineitem history —
    min(l_extendedprice / l_quantity) per (part, supplier). The division
    is a single IEEE op on identical inputs, so min/equality agree
    bit-for-bit across engines (no sums involved). The OUTPUT price uses
    floor(x·10⁴ + 0.5) instead of round(x, 4): cents/quantity can land on
    an exact decimal half (e.g. 1259.58/48 = 26.24125), where Spark's
    BigDecimal HALF_UP and DuckDB's float-multiply round() disagree —
    the floor form is the same IEEE ops in both engines, so it cannot
    diverge (found by the sf0.001 sweep, round 5).

    Scale: offers is a partial+final agg on (partkey, suppkey); best
    re-aggregates the SAME keyed exchange one level up (no extra fact
    shuffle — AQE reuses the partitioning). The supplier region filter
    semi-reduces lineitem through a 2-level broadcast chain
    (region→nation→supplier, all dimension-sized), and part's
    type+size filter broadcasts ~4% of parts for the final probe."""
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    offers = (
        li.join(F.broadcast(eu.select("s_suppkey")), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"))
    )
    best = offers.groupBy(F.col("l_partkey").alias("b_partkey")).agg(
        F.min("unit_price").alias("best_price")
    )
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_type") == "STANDARD") & F.col("p_size").between(10, 20)
    ).select("p_partkey", "p_type")
    return (
        offers.join(
            best,
            (offers.l_partkey == best.b_partkey)
            & (offers.unit_price == best.best_price),
        )
        .join(F.broadcast(p), offers.l_partkey == p.p_partkey)
        .join(F.broadcast(eu), offers.l_suppkey == eu.s_suppkey)
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_type",
            F.floor(F.col("unit_price") * 10000 + 0.5).cast("long").alias("unit_price_e4"),
        )
    )


# --------------------------------------------------------------------------
# Q9 shape: product-line profit by nation and year
# --------------------------------------------------------------------------
@register(
    "q_product_profit",
    driver=False,  # §2.4 multi-join profit rollup — pytest oracle
    oracle="""
SELECT n.n_name AS nation, CAST(year(l.l_shipdate) AS BIGINT) AS o_year,
       CAST(round(CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                    - 0.5 * p.p_retailprice * l.l_quantity
                    AS DECIMAL(18,4))) AS DOUBLE), 4) AS DOUBLE) AS profit
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE p.p_name LIKE '%gear%'
GROUP BY 1, 2
""",
)
def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape — profit on a product line (parts whose name matches
    a pattern) by supplier nation and year. Adaptation: no partsupp, so
    the cost term is 0.5·p_retailprice·l_quantity instead of
    ps_supplycost·l_quantity — the same (price − cost) rollup shape. Both
    products and the subtraction are single-rounded IEEE ops on identical
    inputs, and the result sums through DECIMAL(18,4), keeping the per
    (nation, year) profit order-independent and engine-identical.

    Scale: the p_name LIKE filter can't prune at the parquet scan
    (mid-string pattern) but reduces part to ~1/6 before broadcast, which
    semi-filters lineitem in the join — the fact table never shuffles for
    it. supplier→nation is a second broadcast chain; the rollup is one
    partial+final agg on (nation, year) — 25×7 rows."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%")).select(
        "p_partkey", "p_retailprice"
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.5 * F.col("p_retailprice") * F.col("l_quantity")
    ).cast("decimal(18,4)")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").cast("long").alias("o_year"),
        )
        .agg(F.round(F.sum(profit).cast("double"), 4).alias("profit"))
    )


# --------------------------------------------------------------------------
# Q11 shape: important-stock census (group HAVING vs global scalar share)
# --------------------------------------------------------------------------
@register(
    "q_important_stock",
    driver=False,  # §2.3 HAVING vs scalar-subquery share — pytest oracle
    oracle="""
WITH v AS (
  SELECT l.l_partkey,
         sum(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS val
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  WHERE n.n_name IN ('NATION_5', 'NATION_6')
  GROUP BY 1
)
SELECT l_partkey,
       CAST(round(CAST(val AS DOUBLE), 4) AS DOUBLE) AS stock_value
FROM v
WHERE val * 10000 > (SELECT sum(val) FROM v) * 8
""",
)
def q_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape — parts whose traded value through two nations'
    suppliers exceeds a fraction of the whole: the group-HAVING-vs-global
    -scalar pattern. Adaptation: value is lineitem trade volume rather
    than partsupp stock. The share cut is written as
    val·10000 > total·8 (i.e. > 0.0008·total) in INTEGER-scaled DECIMAL
    arithmetic — both sides exact in both engines, no float fraction.

    Scale: per-part values are one partial+final agg on l_partkey after
    the nation semi-filter broadcasts; the global total re-aggregates the
    SAME keyed result (metadata-sized) into a 1-row broadcast for the
    filter — the fact table is read and shuffled exactly once."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_5", "NATION_6")
    )
    eligible = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        "s_suppkey"
    )
    v = (
        li.join(F.broadcast(eligible), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).alias("val"))
    )
    total = v.agg(F.sum("val").alias("total"))
    return (
        v.join(F.broadcast(total))
        .filter(F.col("val") * 10000 > F.col("total") * 8)
        .select(
            "l_partkey", F.round(F.col("val").cast("double"), 4).alias("stock_value")
        )
    )


# --------------------------------------------------------------------------
# Q16 shape: supplier-diversity census per part attribute combination
# --------------------------------------------------------------------------
@register(
    "q_supplier_census",
    driver=False,  # §2.3 count-distinct census + NOT-IN exclusion — pytest oracle
    oracle="""
SELECT p.p_brand, p.p_type, p.p_size,
       count(DISTINCT l.l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#5'
  AND p.p_type <> 'PROMO'
  AND p.p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
  AND l.l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0
  )
GROUP BY 1, 2, 3
""",
)
def q_supplier_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape — how many distinct suppliers can deliver each
    (brand, type, size) combination, excluding one brand, one type, and a
    denylisted supplier set. Adaptation: the part↔supplier relation
    derives from lineitem history (no partsupp), and the "complaints"
    denylist is suppliers with negative balances — the NOT IN anti-join
    pattern is intact.

    Scale: the (partkey, suppkey) dedup is the heavy step — a map-side
    combining distinct on the fact table's own keys (one shuffle);
    everything after operates on the deduped ~|P|×avg-suppliers rows. The
    denylist is dimension-sized → broadcast anti join; the census is a
    partial+final count-distinct per attribute cell."""
    pairs = (
        table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    deny = table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0.0
    ).select("s_suppkey")
    return (
        pairs.join(F.broadcast(deny), pairs.l_suppkey == deny.s_suppkey, "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


# --------------------------------------------------------------------------
# Q20 shape: dominant-share suppliers of a product line (nested semi join)
# --------------------------------------------------------------------------
@register(
    "q_dominant_suppliers",
    driver=False,  # §2.4 nested agg-threshold semi join — pytest oracle
    oracle="""
WITH promo_parts AS (
  SELECT p_partkey FROM part WHERE p_type = 'PROMO'
), shipped AS (
  SELECT l.l_partkey, l.l_suppkey, sum(l.l_quantity) AS qty
  FROM lineitem l
  JOIN promo_parts pp ON pp.p_partkey = l.l_partkey
  WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
    AND l.l_shipdate <  TIMESTAMP '1997-01-01'
  GROUP BY 1, 2
), totals AS (
  SELECT l_partkey, sum(qty) AS total_qty FROM shipped GROUP BY 1
)
SELECT s.s_suppkey, s.s_name
FROM supplier s
WHERE s.s_suppkey IN (
  SELECT sh.l_suppkey FROM shipped sh
  JOIN totals t ON t.l_partkey = sh.l_partkey
  WHERE sh.qty > 0.5 * t.total_qty
)
""",
)
def q_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape — suppliers who dominated supply of some PROMO part
    in a year (shipped more than half of that part's total): the nested
    structure of an aggregate threshold inside a semi-join membership
    test. Adaptation: availability (ps_availqty) becomes shipped quantity
    from lineitem history. Quantities are integral doubles, so the sums
    and the 0.5·total comparison are exact in both engines.

    Scale: shipped is one partial+final agg on (partkey, suppkey) after
    the promo-part broadcast semi-filter; totals re-aggregates that
    keyed result in place (no new fact shuffle). The qualifying supplier
    id set is tiny → broadcast left-semi against the supplier dim."""
    pp = table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select(
        "p_partkey"
    )
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    shipped = (
        li.join(F.broadcast(pp), li.l_partkey == pp.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    totals = shipped.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        F.sum("qty").alias("total_qty")
    )
    dominant = (
        shipped.join(totals, shipped.l_partkey == totals.t_partkey)
        .filter(F.col("qty") > 0.5 * F.col("total_qty"))
        .select("l_suppkey")
    )
    s = table(spark, sf_dir, "supplier")
    return s.join(
        F.broadcast(dominant), s.s_suppkey == dominant.l_suppkey, "left_semi"
    ).select("s_suppkey", "s_name")


# --------------------------------------------------------------------------
# Q21 shape: sole-late-supplier census on multi-supplier orders
# --------------------------------------------------------------------------
@register(
    "q_waiting_orders",
    driver=False,  # §2.4 exists/not-exists pair → per-order census — pytest oracle
    oracle="""
WITH per_order AS (
  SELECT l.l_orderkey,
         count(DISTINCT l.l_suppkey) AS n_supp,
         count(DISTINCT CASE WHEN l.l_shipdate >
                    o.o_orderdate + INTERVAL 90 DAY
               THEN l.l_suppkey END) AS n_late_supp,
         max(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
             THEN l.l_suppkey END) AS late_supp
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderstatus = 'F'
  GROUP BY 1
)
SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
FROM per_order po
JOIN supplier s ON s.s_suppkey = po.late_supp
WHERE po.n_supp >= 2 AND po.n_late_supp = 1
GROUP BY 1
ORDER BY numwait DESC, s.s_name
LIMIT 20
""",
)
def q_waiting_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape — suppliers who were the SOLE late supplier on
    completed multi-supplier orders. The original's correlated
    EXISTS (another supplier's line) / NOT EXISTS (another supplier's
    late line) pair is rewritten as one per-order census — n_supp ≥ 2
    AND n_late_supp = 1 picks exactly the orders where one supplier,
    alone, was late (the classic decorrelation; max over the single late
    suppkey is well-defined because the filter pins n_late_supp = 1).
    Late = shipped >90 days after order date (no receipt/commit dates in
    the fixture).

    The census counts distinct suppliers without a count-distinct: one
    agg per (order, supplier) folds the lines into an is_late flag, and
    the per-order agg counts those rows and sums the flags (the oracle
    keeps the two count-distincts; the counts are the same). Two
    count-distincts over different arguments would plan an Expand whose
    group order follows expression-id hashes, so the plan text (and its
    fingerprint) would change with what the session built before.

    Scale: two keyed shuffles build the census, (order, supplier) and
    then order, each a partial+final agg with no Expand of the lines;
    the original's triple self-join of lineitem never materializes. The
    status filter prunes orders at the scan; the final supplier probe is
    a broadcast of the census survivors; top-20 is
    TakeOrderedAndProject."""
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    per_supp = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late.cast("int")).alias("is_late"))
    )
    per_order = (
        per_supp.groupBy("l_orderkey")
        .agg(
            F.count("*").alias("n_supp"),
            F.sum("is_late").alias("n_late_supp"),
            F.max(F.when(F.col("is_late") == 1, F.col("l_suppkey"))).alias(
                "late_supp"
            ),
        )
        .filter((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        per_order.join(F.broadcast(s), per_order.late_supp == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )
