"""Join queries (SURVEY.md §2.4), backed by ``operators.joins``.

Star-schema joins ride the fixture join graph (FIXTURES.md): facts
(lineitem/orders/events) stay partitioned; dims (customer/part/nation/region)
broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import joins as J
from ..session import table
from ._registry import register


@register(
    "q_join_inner",
    driver=False,  # kept: timed by perfbench, bench.py and PLAN_SHA_BASELINE
    oracle="""
SELECT n_name, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY n_name
""",
)
def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi joins across the star (orders→customer→nation). Both dims
    are broadcast-size; AQE converts to broadcast-hash even without the hint."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    j = J.equi_join(o, c, F.col("o_custkey") == F.col("c_custkey"))
    j = J.broadcast_join(j, n, F.col("c_nationkey") == F.col("n_nationkey"))
    return j.groupBy("n_name").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


@register(
    "q_join_broadcast",
    driver=False,  # rotated off r8: broadcast shape pinned by q_star_join
    oracle="""
SELECT p_brand, count(*) AS n_items,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(9,2)) * (CAST(1.00 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE), 4) AS revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_type LIKE 'PROMO%'
GROUP BY p_brand
""",
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beam side-input dict lookup = broadcast hash join: the filtered part
    dim replicates to executors, the lineitem fact never shuffles for the
    join (tests assert BroadcastHashJoin in the plan)."""
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_type").like("PROMO%"))
    j = J.broadcast_join(l, p, F.col("l_partkey") == F.col("p_partkey"))
    return j.groupBy("p_brand").agg(
        F.count("*").alias("n_items"),
        # exact decimal product sum — order-independent (see flagship.py note)
        F.round(
            F.sum(
                F.col("l_extendedprice").cast("decimal(9,2)")
                * (F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(3,2)"))
            ).cast("double"), 4,
        ).alias("revenue"),
    )


@register(
    "q_join_cross",
    oracle="""
SELECT r_name, seg, n_cust
FROM region,
     (SELECT DISTINCT c_mktsegment AS seg FROM customer),
     (SELECT count(*) AS n_cust FROM customer)
""",
    driver=False,  # rotated off r6 (VERDICT r5 #4): join family keeps 6 driver slots
)
def q_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product of tiny sides (guarded cross_join): region ×
    distinct segments × 1-row global count — all distributed, no collect."""
    c = table(spark, sf_dir, "customer")
    r = table(spark, sf_dir, "region").select("r_name")
    segs = c.select(F.col("c_mktsegment").alias("seg")).distinct()
    n = c.agg(F.count("*").alias("n_cust"))
    return J.cross_join(J.cross_join(r, segs), n)


@register(
    "q_join_range",
    driver=False,  # r7 rotation: range-join family slot moved to the binned scale path
    oracle="""
SELECT p_partkey, count(*) AS n_close,
       round(avg(l_quantity), 6) AS avg_close_qty
FROM part JOIN lineitem
  ON l_partkey = p_partkey
 AND l_quantity BETWEEN p_size - 5 AND p_size + 5
GROUP BY p_partkey
""",
)
def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi + band condition: hash join on partkey, band as join filter
    (never a BNLJ since the equi key anchors the physical plan)."""
    p = table(spark, sf_dir, "part")
    l = table(spark, sf_dir, "lineitem")
    j = J.range_join(
        l, F.broadcast(p),
        equi=F.col("l_partkey") == F.col("p_partkey"),
        band=F.col("l_quantity").between(F.col("p_size") - 5, F.col("p_size") + 5),
    )
    return j.groupBy("p_partkey").agg(
        F.count("*").alias("n_close"),
        F.round(F.avg("l_quantity"), 6).alias("avg_close_qty"),
    )


@register(
    "q_cogroup_full_outer",
    oracle="""
SELECT
  COALESCE(a.k, b.k) AS nationkey,
  COALESCE(a.customers, '') AS customers,
  COALESCE(b.suppliers, '') AS suppliers
FROM (SELECT c_nationkey AS k,
             array_to_string(list(c_name ORDER BY c_name), ',') AS customers
      FROM customer GROUP BY c_nationkey) a
FULL OUTER JOIN
     (SELECT s_nationkey AS k,
             array_to_string(list(s_name ORDER BY s_name), ',') AS suppliers
      FROM supplier GROUP BY s_nationkey) b
ON a.k = b.k
""",
    driver=False,  # rotated off r6 (VERDICT r5 #4): CoGBK stays local-hash green
)
def q_cogroup_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beam ``CoGroupByKey``: per-nation customer names + supplier names,
    absent side → empty list (not NULL), lists sorted for determinism and
    serialized to CSV strings in both engines (absent side → '' — raw array
    columns crash the driver canonicalizer, VERDICT r1 #2; the array form
    stays covered in operator pytest)."""
    c = table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"), "c_name")
    s = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"), "s_name")
    out = J.cogroup_by_key(
        c, s, ["nationkey"], "c_name", "s_name",
        left_out="customers", right_out="suppliers",
    )
    return out.select(
        "nationkey",
        F.array_join("customers", ",").alias("customers"),
        F.array_join("suppliers", ",").alias("suppliers"),
    )


@register(
    "q_join_asof",
    oracle="""
SELECT event_id, user_id, ts, event_type,
       round(last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS asof_value
FROM events
""",
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for every event, the latest purchase value of that user at
    or before its timestamp (inclusive). Implemented by the union+window
    operator — one shuffle on user_id, linear, no range self-join. The
    single-table oracle formulation is equivalent because (user_id, ts) is
    unique in the fixture (verified at sf0.1)."""
    e = table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase")
    out = J.asof_join_union(
        e, purchases, ["user_id"], "ts", "ts", "value", out="asof_value"
    )
    return out.select(
        "event_id", "user_id", "ts", "event_type",
        F.round("asof_value", 2).alias("asof_value"),
    )


@register(
    "q_join_equi",
    oracle="""
SELECT n_name AS key, 'inner' AS tag, count(*) AS n,
       round(sum(o_totalprice), 2) AS amount
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY n_name
UNION ALL
SELECT c_name, 'left', count(o_orderkey),
       round(coalesce(sum(o_totalprice), 0), 2)
FROM customer
LEFT JOIN orders ON o_custkey = c_custkey AND o_orderstatus = 'F'
GROUP BY c_custkey, c_name
""",
)
def q_join_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi inner + left outer joins in one tagged driver row (SURVEY §2.4;
    q_join_inner keeps a benchmarked inner-only form). 'inner' arm: star join
    orders→customer→nation with broadcast dims; 'left' arm: per-customer
    order counts keeping the zero-match rows (count=0, spend=0). The fact
    side takes at most one shuffle per arm; dims broadcast."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    o = table(spark, sf_dir, "orders")
    inner = J.equi_join(o, c, F.col("o_custkey") == F.col("c_custkey"))
    inner = J.broadcast_join(inner, n, F.col("c_nationkey") == F.col("n_nationkey"))
    inner_arm = inner.groupBy("n_name").agg(
        F.count("*").alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("amount"),
    ).select(
        F.col("n_name").alias("key"), F.lit("inner").alias("tag"), "n", "amount"
    )
    of = o.filter(F.col("o_orderstatus") == "F")
    left = J.equi_join(c, of, F.col("o_custkey") == F.col("c_custkey"), how="left")
    left_arm = left.groupBy("c_custkey", "c_name").agg(
        F.count("o_orderkey").alias("n"),
        F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("amount"),
    ).select(
        F.col("c_name").alias("key"), F.lit("left").alias("tag"), "n", "amount"
    )
    return inner_arm.unionByName(left_arm)


@register(
    "q_join_semi_anti",
    driver=False,  # r7 rotation: join family keeps q_join_equi/broadcast/star on the driver
    oracle="""
SELECT c_custkey, 'semi' AS tag, c_name AS attr FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
UNION ALL
SELECT c_custkey, 'anti', c_mktsegment FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
""",
)
def q_join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS → left_semi and NOT EXISTS → left_anti in one tagged driver row
    (SURVEY §2.4). The two arms partition the customer table exactly (semi ∪
    anti = all customers) — the union makes that invariant hash-checked. No
    column leakage, no row multiplication in either arm."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    semi = J.semi_join(c, o, F.col("c_custkey") == F.col("o_custkey")).select(
        "c_custkey", F.lit("semi").alias("tag"), F.col("c_name").alias("attr")
    )
    anti = J.anti_join(c, o, F.col("c_custkey") == F.col("o_custkey")).select(
        "c_custkey", F.lit("anti").alias("tag"), F.col("c_mktsegment").alias("attr")
    )
    return semi.unionByName(anti)


@register(
    "q_salted_join",
    driver=False,  # extra scale pattern beyond SURVEY §2 — pytest-only
    oracle="""
SELECT c_mktsegment,
       count(*)                                                           AS n_orders,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""",
)
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replicate-small/salt-fact join (operators.skew.salted_join,
    scale_notes.md "Skew"): fact rows salt on a high-cardinality column,
    the small side is exploded ×n_salts, and the join key becomes
    (key, salt) — a hot customer key lands on n_salts partitions instead
    of one. Targets the middle ground where the small side is too big to
    broadcast but the fact side is skewed; result is row-identical to the
    plain join, which is what the oracle checks. Revenue sums exact
    decimal (order-independent under re-partitioning). The merge hint
    keeps the demo honest at fixture scale (round 6): AQE would broadcast
    the replicated customer side and hide the salt from the plan — the
    SMJ-on-(key, salt) shape is now pinned in tests/test_plans.py."""
    from ..operators import skew

    o = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_orderkey", "o_totalprice"
    )
    c = (
        table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("custkey"), "c_mktsegment")
        .hint("merge")
    )
    j = skew.salted_join(o, c, "custkey", F.col("o_orderkey"), 8)
    return j.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(12,2)")).cast("double"), 2
        ).alias("revenue"),
    )


@register(
    "q_join_nearest",
    driver=False,  # §2.4 temporal-join family completion (round 4) — pytest oracle
    oracle="""
WITH marked AS (
  SELECT event_id, user_id, event_type,
         CAST(epoch_us(ts) AS BIGINT) AS t_us,
         last_value(CASE WHEN event_type = 'purchase'
                         THEN CAST(epoch_us(ts) AS BIGINT) END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS back_us,
         first_value(CASE WHEN event_type = 'purchase'
                          THEN CAST(epoch_us(ts) AS BIGINT) END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fwd_us
  FROM events
)
SELECT event_id, user_id,
       CASE WHEN back_us IS NULL AND fwd_us IS NULL THEN NULL
            WHEN fwd_us IS NULL THEN -(t_us - back_us)
            WHEN back_us IS NULL THEN fwd_us - t_us
            WHEN t_us - back_us <= fwd_us - t_us THEN -(t_us - back_us)
            ELSE fwd_us - t_us END AS nearest_dt_us,
       CASE WHEN back_us IS NULL AND fwd_us IS NULL THEN NULL
            WHEN fwd_us IS NULL THEN 'back'
            WHEN back_us IS NULL THEN 'fwd'
            WHEN t_us - back_us <= fwd_us - t_us THEN 'back'
            ELSE 'fwd' END AS direction
FROM marked
WHERE event_type = 'click'
""",
)
def q_join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-event temporal join, completing the family next to the
    backward as-of (q_join_asof) and the interval join: for every click,
    the nearest purchase of that user by |Δt| in either direction (tie →
    the earlier purchase, matching pandas ``merge_asof(direction=
    'nearest')``). Two complementary ignore-NULLs window passes — latest
    purchase ≤ t, earliest ≥ t — share ONE user-keyed sort, then an exact
    integer-µs comparison picks the side; no range self-join, no fan-out.

    Scale: identical economics to the as-of union trick — one shuffle on
    user_id, linear in events; Δt stays exact BIGINT µs."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    t_us = F.unix_micros("ts")
    p_us = F.when(F.col("event_type") == "purchase", t_us)
    wb = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wf = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        0, Window.unboundedFollowing
    )
    marked = e.select(
        "event_id",
        "user_id",
        "event_type",
        t_us.alias("t_us"),
        F.last(p_us, ignorenulls=True).over(wb).alias("back_us"),
        F.first(p_us, ignorenulls=True).over(wf).alias("fwd_us"),
    )
    back_dt = F.col("t_us") - F.col("back_us")
    fwd_dt = F.col("fwd_us") - F.col("t_us")
    nearest = (
        F.when(F.col("back_us").isNull() & F.col("fwd_us").isNull(), F.lit(None))
        .when(F.col("fwd_us").isNull(), -back_dt)
        .when(F.col("back_us").isNull(), fwd_dt)
        .when(back_dt <= fwd_dt, -back_dt)
        .otherwise(fwd_dt)
    )
    direction = (
        F.when(F.col("back_us").isNull() & F.col("fwd_us").isNull(), F.lit(None))
        .when(F.col("fwd_us").isNull(), F.lit("back"))
        .when(F.col("back_us").isNull(), F.lit("fwd"))
        .when(back_dt <= fwd_dt, F.lit("back"))
        .otherwise(F.lit("fwd"))
    )
    return marked.filter(F.col("event_type") == "click").select(
        "event_id",
        "user_id",
        nearest.alias("nearest_dt_us"),
        direction.alias("direction"),
    )


# --------------------------------------------------------------------------
# Bucketed co-located join — the shuffle-amortization layout (round 6)
# --------------------------------------------------------------------------
@register(
    "q_bucketed_join",
    driver=False,  # rotated off r11 (wave 6) — stays oracle-backed in the local sweep
    # driver slot r7-r10 (VERDICT r6 #3), rotated off r11 (wave 6): the physical-layout family's first
    # driver-green row — zero-exchange SMJ on pre-bucketed tables
    oracle="""
SELECT c_mktsegment AS seg,
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS revenue
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c_mktsegment
""",
)
def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed tables (SURVEY §2.4 join tier / §4 physical layout): both
    sides are written ONCE with ``bucketBy(8, key).sortBy(key)`` and the
    join then reads co-located buckets — the executed plan has ZERO
    Exchange nodes under the SortMergeJoin (pinned in tests/test_plans.py;
    the only shuffle left in the query is the final segment aggregate).

    Why at 100 TB: a fact table joined on the same key by many daily
    queries pays ONE layout-time shuffle instead of one per query —
    bucketing is pre-shuffling persisted into the table layout, the same
    amortization as laketable's compaction story. The merge hint pins the
    co-located SMJ so a small test-scale side can't flip the demo to a
    broadcast (at real scale both sides are too big to broadcast and SMJ
    is what AQE picks anyway). Values are layout-independent — the oracle
    is the plain equi-join."""
    from .scans import _scratch_dir, _sfkey

    tag = _sfkey(sf_dir)
    spark.sql(
        "CREATE DATABASE IF NOT EXISTS graft_bkt "
        f"LOCATION '{_scratch_dir()}/bucketed_db'"
    )
    pairs = [("orders", "o_custkey"), ("customer", "c_custkey")]
    for name, key in pairs:
        tbl = f"graft_bkt.{name}_bkt_{tag}"
        if not spark.catalog.tableExists(tbl):
            (
                table(spark, sf_dir, name)
                .write.bucketBy(8, key)
                .sortBy(key)
                .mode("overwrite")
                .format("parquet")
                .saveAsTable(tbl)
            )
    o = spark.table(f"graft_bkt.orders_bkt_{tag}").hint("merge")
    c = spark.table(f"graft_bkt.customer_bkt_{tag}").hint("merge")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


# --------------------------------------------------------------------------
# Pure range join made equi via bin replication (round 6)
# --------------------------------------------------------------------------
@register(
    "q_range_join_binned",
    driver=False,  # rotated off r11 (wave 6) — stays oracle-backed in the local sweep
    # driver slot r7-r10 (VERDICT r6 #3), rotated off r11 (wave 6): replaces q_join_range — the binned
    # equi-join decomposition that survives 100 TB where the BNLJ dies
    oracle="""
SELECT b AS band, CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0, 2)
         AS sum_value
FROM (SELECT unnest(range(10)) AS b) bands
JOIN events e ON e.value >= b * 40.0 AND e.value < b * 40.0 + 60.0
GROUP BY b
""",
)
def q_range_join_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyless range join at scale (SURVEY §2.4 join tier): events match
    OVERLAPPING value bands [b·40, b·40+60) — no equi key exists, and a
    naive theta join is a broadcast-nested-loop that dies when neither
    side broadcasts. The scale form BINS the range axis (width 40): each
    band replicates to the ⌈span/width⌉ = 2 bins it overlaps, each event
    computes its one bin, and the join becomes EQUI on bin + a residual
    band predicate — a hash join whose fan-out is bounded by the
    replication factor, never |bands|·|events|.

    This is the standard interval-join decomposition (Flink/Spark
    interval joins and every time-range join do exactly this with time
    buckets). Band sums use the cents discipline (exact int64) — a
    2000-term double sum per band is order-dependent at the 6th decimal.

    Scale: replication factor = band span / bin width is the tuning knob;
    at 100 TB pick the width near the median span so the bands side stays
    small enough to broadcast per bin while events never shuffle twice."""
    e = table(spark, sf_dir, "events")
    bands = spark.range(10).select(
        F.col("id").alias("band"),
        (F.col("id") * 40.0).alias("lo"),
        (F.col("id") * 40.0 + 60.0).alias("hi"),
    )
    width = 40.0
    bands_binned = bands.select(
        "band",
        "lo",
        "hi",
        F.explode(
            F.sequence(
                F.floor(F.col("lo") / width).cast("long"),
                F.floor((F.col("hi") - 1e-9) / width).cast("long"),
            )
        ).alias("bin"),
    )
    ev = e.select(
        "value",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.floor(F.col("value") / width).cast("long").alias("bin"),
    )
    return (
        ev.join(F.broadcast(bands_binned), "bin")
        .filter((F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")))
        .groupBy("band")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("cents") / 100.0, 2).alias("sum_value"),
        )
    )



# --------------------------------------------------------------------------
# Bloom-prefiltered semi-join — the runtime-filter pattern (round 6)
# --------------------------------------------------------------------------
@register(
    "q_bloom_semi_join",
    driver=False,  # Catalyst runtime-bloom shape, made deterministic — pytest oracle
    oracle="""
WITH dim AS (
  SELECT c_custkey AS k FROM customer WHERE c_acctbal > 900
), pos AS (
  SELECT CAST(('0x' || substr(md5('a:' || CAST(k AS VARCHAR)), 1, 15)) AS BIGINT)
           % 65536 AS p FROM dim
  UNION
  SELECT CAST(('0x' || substr(md5('b:' || CAST(k AS VARCHAR)), 1, 15)) AS BIGINT)
           % 65536 FROM dim
), probe AS (
  SELECT o_orderkey, o_custkey,
         CAST(('0x' || substr(md5('a:' || CAST(o_custkey AS VARCHAR)), 1, 15))
              AS BIGINT) % 65536 AS h1,
         CAST(('0x' || substr(md5('b:' || CAST(o_custkey AS VARCHAR)), 1, 15))
              AS BIGINT) % 65536 AS h2
  FROM orders
), cand AS (
  SELECT o_orderkey, o_custkey FROM probe
  WHERE h1 IN (SELECT p FROM pos) AND h2 IN (SELECT p FROM pos)
), exact AS (
  SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT k FROM dim)
)
SELECT CAST((SELECT count(*) FROM orders) AS BIGINT) AS n_orders,
       CAST((SELECT count(*) FROM cand) AS BIGINT)   AS n_candidates,
       CAST((SELECT count(*) FROM exact) AS BIGINT)  AS n_exact,
       CAST((SELECT count(*) FROM cand) - (SELECT count(*) FROM exact) AS BIGINT)
         AS false_positives,
       round(((SELECT count(*) FROM cand) - (SELECT count(*) FROM exact)) * 1.0
             / (SELECT count(*) FROM orders), 6) AS fp_rate
FROM (SELECT 1)
""",
)
def q_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered semi-join — the RUNTIME-FILTER pattern Catalyst
    injects at cluster scale (spark.sql.optimizer.runtime.bloomFilter),
    made deterministic and oracle-checkable: the filtered dim's keys build
    a k=2 md5 bloom over 2¹⁶ slots, the fact probes it BEFORE the exact
    semi-join, and the report counts candidates / exact matches / the
    bloom's false positives bit-for-bit (same census discipline as
    q_bloom_decontaminate, applied to the join prefilter). Spark's native
    injection is size-thresholded (≥10 GB application side) so it can't
    fire at fixture scale — this query IS the shape, with the FP cost
    measured instead of assumed.

    Scale: the position set is ≤ 2·|dim| ints (broadcast); the fact scans
    once, drops (1−FP)·non-matching rows before the shuffle the exact
    semi-join needs — the whole point at 100 TB where the fact's shuffle
    dominates. Slot count 2¹⁶ matches the fixture dim; size m ≈ 10·|dim|
    at scale for ~1% FP."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 900)
    dim = c.select(F.col("c_custkey").alias("k"))

    def h(prefix, col):
        return (
            F.conv(
                F.substring(F.md5(F.concat(F.lit(prefix), col.cast("string"))), 1, 15),
                16,
                10,
            ).cast("long")
            % 65536
        )

    pos = (
        dim.select(h("a:", F.col("k")).alias("p"))
        .unionByName(dim.select(h("b:", F.col("k")).alias("p")))
        .distinct()
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    probe = o.select(
        "o_orderkey",
        "o_custkey",
        h("a:", F.col("o_custkey")).alias("h1"),
        h("b:", F.col("o_custkey")).alias("h2"),
    )
    p1 = pos.select(F.col("p").alias("h1"))
    p2 = pos.select(F.col("p").alias("h2"))
    cand = probe.join(F.broadcast(p1), "h1", "left_semi").join(
        F.broadcast(p2), "h2", "left_semi"
    )
    exact = o.join(F.broadcast(dim), o.o_custkey == dim.k, "left_semi")
    n_orders = o.count()
    n_cand = cand.count()
    n_exact = exact.count()
    return spark.createDataFrame(
        [(n_orders, n_cand, n_exact, n_cand - n_exact)],
        "n_orders long, n_candidates long, n_exact long, false_positives long",
    ).select(
        "*",
        F.round((F.col("false_positives")) * 1.0 / F.col("n_orders"), 6).alias(
            "fp_rate"
        ),
    )
