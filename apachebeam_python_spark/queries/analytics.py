"""Deeper analytics queries: statistical combines, exact percentiles,
GROUPING SETS, and a star-schema showcase join (SURVEY.md §2.3-2.4
extensions — the "SQL-engine completeness" tier beyond Beam's vocabulary)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import joins as J
from ..session import broadcast_if_small, checkpoint, register_views, table
from ._registry import register


@register(
    "q_agg_stats",
    driver=False,  # rotated off r9 (VERDICT r8 #1); stays in the local sweep
    oracle="""
SELECT c_mktsegment,
       round(stddev_samp(c_acctbal), 6)            AS sd_bal,
       round(var_samp(c_acctbal), 4)               AS var_bal,
       round(corr(c_acctbal, c_nationkey), 6)      AS corr_bal_nation,
       round(covar_pop(c_acctbal, c_nationkey), 4) AS covar_bal_nation,
       round(quantile_cont(c_acctbal, 0.5), 4)     AS median_bal,
       round(quantile_cont(c_acctbal, 0.9), 4)     AS p90_bal
FROM customer
GROUP BY c_mktsegment
""",
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical CombineFn family: stddev/variance/correlation/covariance —
    all mergeable sketch-free accumulators (sum, sum², sum-of-products),
    partial+final like any agg — plus EXACT interpolated percentiles (Spark
    ``percentile`` ≡ DuckDB ``quantile_cont``). The exact percentile needs
    the full per-group multiset — at 100 TB use the sketch arm of
    q_approx_sample; this is its correctness anchor."""
    c = table(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.round(F.stddev_samp("c_acctbal"), 6).alias("sd_bal"),
        F.round(F.var_samp("c_acctbal"), 4).alias("var_bal"),
        F.round(F.corr("c_acctbal", "c_nationkey"), 6).alias("corr_bal_nation"),
        F.round(F.covar_pop("c_acctbal", "c_nationkey"), 4).alias("covar_bal_nation"),
        F.round(F.percentile("c_acctbal", F.lit(0.5)), 4).alias("median_bal"),
        F.round(F.percentile("c_acctbal", F.lit(0.9)), 4).alias("p90_bal"),
    )


@register(
    "q_star_join",
    # driver r1–r9; rotated off r10 (VERDICT r9 #2, wave 5) — stays the
    # tier-1 BENCH headline (plan pinned); q_join_equi/q_bucketed_join/
    # q_market_share keep the broadcast-dim join family graded
    driver=False,
    oracle="""
SELECT n_name,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(9,2)) * (CAST(1.00 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE), 4) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
""",
)
def q_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-shaped star join (local-supplier revenue by nation): the
    6-table showcase. Facts (lineitem⋈orders) take the one real shuffle;
    customer/supplier/nation/region all broadcast; date + region predicates
    push into the scans. AQE reorders/converts as needed — this is the query
    shape whose plan must survive 1000×."""
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    j = J.equi_join(l, o, F.col("l_orderkey") == F.col("o_orderkey"))
    j = J.broadcast_join(j, c, F.col("o_custkey") == F.col("c_custkey"))
    j = J.broadcast_join(
        j,
        s,
        (F.col("l_suppkey") == F.col("s_suppkey"))
        & (F.col("c_nationkey") == F.col("s_nationkey")),
    )
    j = J.broadcast_join(j, n, F.col("s_nationkey") == F.col("n_nationkey"))
    j = J.broadcast_join(j, r, F.col("n_regionkey") == F.col("r_regionkey"))
    return j.groupBy("n_name").agg(
        # exact decimal product sum — order-independent (see flagship.py note)
        F.round(
            F.sum(
                F.col("l_extendedprice").cast("decimal(9,2)")
                * (F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(3,2)"))
            ).cast("double"), 4,
        ).alias("revenue"),
        F.count("*").alias("n_items"),
    )


@register(
    "q_pivot",
    driver=False,  # extra beyond SURVEY §2 — pytest-only
    oracle="""
SELECT user_id,
       count(*) FILTER (WHERE event_type = 'click')    AS click,
       count(*) FILTER (WHERE event_type = 'view')     AS view,
       count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
       count(*) FILTER (WHERE event_type = 'signup')   AS signup,
       count(*) FILTER (WHERE event_type = 'error')    AS error
FROM events GROUP BY user_id
""",
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: long → wide (per-user event-type counts). Values enumerated
    explicitly — at 100 TB an un-enumerated pivot needs a driver-side
    distinct pass first; always pass the value list."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .count()
        .na.fill(0)
    )


@register(
    "q_unpivot",
    driver=False,  # extra beyond SURVEY §2 — pytest-only
    oracle="""
SELECT l_orderkey, l_linenumber, kind, round(amount, 2) AS amount
FROM (
  SELECT l_orderkey, l_linenumber,
         unnest(['price', 'discount', 'tax']) AS kind,
         unnest([l_extendedprice, l_discount, l_tax]) AS amount
  FROM lineitem WHERE l_linenumber = 1
)
""",
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt: wide → long (one row per measure) via ``unpivot`` —
    a zero-shuffle narrow expansion in both engines."""
    l = table(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") == 1)
    return l.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_extendedprice", "l_discount", "l_tax"],
        "kind",
        "amount",
    ).select(
        "l_orderkey", "l_linenumber",
        F.when(F.col("kind") == "l_extendedprice", "price")
         .when(F.col("kind") == "l_discount", "discount")
         .otherwise("tax").alias("kind"),
        F.round("amount", 2).alias("amount"),
    )


#: chained-min funnel census: the oracle of q_funnel and of its streaming
#: twin q_stream_funnel
_FUNNEL_SQL = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view'
  GROUP BY user_id
), s2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t1
  GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
  GROUP BY e.user_id
)
SELECT 'view'     AS step, CAST(1 AS INTEGER) AS step_no, CAST(count(*) AS BIGINT) AS n_users FROM s1
UNION ALL
SELECT 'click'    AS step, CAST(2 AS INTEGER) AS step_no, CAST(count(*) AS BIGINT) AS n_users FROM s2
UNION ALL
SELECT 'purchase' AS step, CAST(3 AS INTEGER) AS step_no, CAST(count(*) AS BIGINT) AS n_users FROM s3
"""


@register(
    "q_funnel",  # driver slot r3-r10; rotated off r11 (wave 6)
    driver=False,  # rotated off r11 (wave 6) — stays oracle-backed in the local sweep
    oracle=_FUNNEL_SQL,
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view → click → purchase, strictly later timestamps):
    how many users reach each step — the event-sequence analysis every
    product-analytics engine ships. Three keyed min-aggregates, each
    hash-partitioned on user_id, so the step joins land co-partitioned
    behind the first shuffle; no collect_list of a user's history, no
    window over the event table (both would move O(events) per user —
    this moves 1 row per user per step). At 100× the plan is unchanged."""
    from ..session import table

    e = table(spark, sf_dir, "events")
    s1 = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        e.join(s1, "user_id")
        .filter((F.col("event_type") == "click") & (F.col("ts") > F.col("t1")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        e.join(s2, "user_id")
        .filter((F.col("event_type") == "purchase") & (F.col("ts") > F.col("t2")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    def census(df: DataFrame, step: str, no: int) -> DataFrame:
        return df.agg(F.count("*").alias("n_users")).select(
            F.lit(step).alias("step"), F.lit(no).alias("step_no"), "n_users"
        )

    return (
        census(s1, "view", 1)
        .unionByName(census(s2, "click", 2))
        .unionByName(census(s3, "purchase", 3))
    )


@register(
    "q_cohort_retention",
    driver=False,  # extra §2.3 analytics proof — pytest-only oracle
    oracle="""
WITH firsts AS (
  SELECT user_id, CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort_week
  FROM events GROUP BY user_id
), activity AS (
  SELECT DISTINCT e.user_id, f.cohort_week,
         CAST(date_trunc('week', e.ts) AS TIMESTAMP) AS active_week
  FROM events e JOIN firsts f ON e.user_id = f.user_id
)
SELECT cohort_week,
       CAST(date_diff('day', cohort_week, active_week) / 7 AS INTEGER) AS week_no,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM activity
GROUP BY 1, 2
""",
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-activity week, counted in
    every later week they return — the companion report to q_funnel. Two
    keyed aggregates (first-week, then distinct user-weeks), both
    hash-partitioned on user_id so the join is co-partitioned; the final
    (cohort, week) census is tiny. No per-user history materializes."""
    from ..session import table

    e = table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = (
        e.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            F.date_trunc("week", F.col("ts")).alias("active_week"),
        )
        .distinct()
    )
    return activity.groupBy(
        "cohort_week",
        (F.datediff(F.col("active_week"), F.col("cohort_week")) / 7)
        .cast("int")
        .alias("week_no"),
    ).agg(F.countDistinct("user_id").alias("n_users"))


@register(
    "q_skew_report",
    driver=False,  # extra scale-tooling proof — pytest-only oracle
    oracle="""
WITH c AS (
  SELECT event_type, CAST(count(*) AS DOUBLE) AS c FROM events GROUP BY 1
), t AS (SELECT sum(c) AS t FROM c)
SELECT CAST(count(*) AS BIGINT)                    AS n_keys,
       CAST(sum(c) AS BIGINT)                      AS n_rows,
       round(max(c / t.t), 6)                      AS max_share,
       round(max(c / t.t) * 32, 2)                 AS hot_partition_factor,
       round(-sum((c / t.t) * log2(c / t.t)), 6)   AS entropy_bits,
       round(log2(count(*)), 6)                    AS uniform_bits,
       array_to_string(
         (SELECT list(event_type ORDER BY c DESC, event_type) FROM c)[1:5], ',')
                                                   AS top_keys
FROM c CROSS JOIN t
""",
)
def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostic on events.event_type: cardinality, hottest-key
    share, hot-partition factor (share × 32 partitions — the 'will one
    task drown' number), distribution entropy vs uniform, and the top
    keys. The measurement half of the salting/AQE-skew decision —
    operators/skew.py holds the mitigation half."""
    from ..operators.skew import skew_report
    from ..session import table

    return skew_report(table(spark, sf_dir, "events"), ["event_type"])


@register(
    "q_rolling_distinct",
    driver=False,  # extra §2.3 analytics proof — pytest-only oracle
    oracle="""
WITH du AS (
  SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, user_id
  FROM events
), days AS (SELECT DISTINCT day FROM du)
SELECT d.day,
       CAST(count(DISTINCT u.user_id) AS BIGINT) AS active_7d
FROM days d
JOIN du u ON u.day <= d.day AND u.day > d.day - INTERVAL 7 DAY
GROUP BY d.day
""",
)
def q_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day distinct active users per day — the rolling-DAU
    metric. count(DISTINCT) can't ride a sliding window directly, so the
    plan is: dedup to (day, user) once (the heavy shuffle, O(events) →
    O(user-days)), then a range join of the small day grid against
    user-days and a distinct count per day. This exact form is the
    small-scale anchor; the 100 TB form is q_rolling_distinct_hll
    (operators.aggregations.rolling_distinct_hll): per-day mergeable HLL
    sketches unioned over the trailing window — its range join sees
    O(days) KB-sized rows instead of O(user-days), error < 5% asserted in
    tests vs this query."""
    from ..session import table

    e = table(spark, sf_dir, "events")
    du = e.select(
        F.date_trunc("day", F.col("ts")).alias("day"), "user_id"
    ).distinct()
    days = du.select("day").distinct()
    joined = days.alias("d").join(
        du.alias("u"),
        (F.col("u.day") <= F.col("d.day"))
        & (F.col("u.day") > F.col("d.day") - F.expr("INTERVAL 7 DAYS")),
    )
    return joined.groupBy(F.col("d.day").alias("day")).agg(
        F.countDistinct("user_id").alias("active_7d")
    )


@register("q_rolling_distinct_hll", driver=False)  # rows-only: sketch estimates are engine-specific
def q_rolling_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day distinct users via per-day mergeable HLL sketches —
    the scale form of q_rolling_distinct (VERDICT r2 #6). The range join
    sees one KB sketch per day instead of every (day, user) row; the window
    union never re-reads events. Error < 5% vs the exact query asserted in
    tests/test_operators.py::test_rolling_distinct_hll_error_bound."""
    from ..operators.aggregations import rolling_distinct_hll
    from ..session import table as _table

    return rolling_distinct_hll(_table(spark, sf_dir, "events"))


@register(
    "q_attribution",
    driver=False,  # extra §2.5 analytics proof — pytest-only oracle
    oracle="""
SELECT attributed, CAST(count(*) AS BIGINT) AS n_purchases
FROM (
  SELECT event_type,
         coalesce(
           last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                      IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           'none') AS attributed
  FROM events
)
WHERE event_type = 'purchase'
GROUP BY attributed
""",
)
def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase credits the latest PRECEDING
    non-purchase event in the user's journey (window frame ending 1 row
    before current, IGNORE NULLS — identical semantics both engines; the
    (ts, event_id) order is total). One shuffle on user_id + per-partition
    sort; the attribution census is |types| rows. First-touch is the same
    plan with first_value."""
    from pyspark.sql import Window

    from ..session import table

    e = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    attributed = e.select(
        "event_type",
        F.coalesce(
            F.last(
                F.when(F.col("event_type") != "purchase", F.col("event_type")),
                ignorenulls=True,
            ).over(w),
            F.lit("none"),
        ).alias("attributed"),
    )
    return (
        attributed.filter(F.col("event_type") == "purchase")
        .groupBy("attributed")
        .agg(F.count("*").alias("n_purchases"))
    )


@register(
    "q_scd2_dims",
    driver=False,  # rotated off r11 (wave 6) — stays oracle-backed in the local sweep
    # promoted to the driver surface r6 (VERDICT r5 #4): SCD2 warehouse family
    oracle="""
WITH marked AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
), changes AS (
  SELECT user_id, event_type, ts, event_id
  FROM marked WHERE prev IS NULL OR prev <> event_type
)
SELECT user_id, event_type, ts AS valid_from,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         AS is_current
FROM changes
""",
)
def q_scd2_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) interval build — the warehouse
    versioning pattern: collapse each user's event_type stream to CHANGE
    rows (lag ≠ current over the (ts, event_id) total order), then close
    each version with the next change's timestamp (lead; NULL = current).
    Two windows over ONE shuffle on user_id — Spark reuses the sort for
    both lag and lead. At 100 TB this runs per natural key with no joins;
    the output is the dimension table a point-in-time join (q_join_asof)
    then probes. Changes-only output keeps it O(transitions), not
    O(events)."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        e.select(
            "user_id", "event_type", "ts", "event_id",
            F.lag("event_type").over(order).alias("prev"),
        )
        .filter(F.col("prev").isNull() | (F.col("prev") != F.col("event_type")))
    )
    # Close over the same (ts, event_id) total order the change rows were
    # derived with: a ts-only sort leaves same-ts change rows tie-ambiguous
    # and the engines may close different versions (code-review r3).
    close = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return changes.select(
        "user_id", "event_type",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(close).alias("valid_to"),
        F.lead("ts").over(close).isNull().alias("is_current"),
    )


@register(
    "q_time_weighted_avg",
    driver=False,  # extra §2.5 timeseries shape — pytest-only oracle
    oracle="""
WITH obs AS (
  SELECT user_id, value,
         epoch_us(ts) AS t,
         lead(epoch_us(ts))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t_next
  FROM events WHERE value IS NOT NULL
)
SELECT user_id,
       round(sum(value * (t_next - t)) / sum(t_next - t), 6) AS twa,
       CAST(sum(t_next - t) AS BIGINT)                       AS span_us,
       CAST(count(*) AS BIGINT)                              AS n_obs
FROM obs WHERE t_next IS NOT NULL
GROUP BY user_id
""",
)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average — the hypertable/metrics staple that plain avg
    gets wrong under irregular sampling: each observation holds until the
    next one, so it weighs by its holding interval (value·Δt / Σ Δt over
    the (ts, event_id) total order; the final open interval is dropped in
    both engines). Timestamps in EXACT integer microseconds — a seconds
    cast diverges cross-engine on fractional seconds (Spark floors,
    DuckDB's epoch rounds). One user_id shuffle shared by the lead window
    and the agg. Rounded at 6 dp in both engines (sum-order ulp drift —
    same convention as q_agg_combine's avg_price)."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = F.unix_micros(F.col("ts"))
    obs = e.select(
        "user_id", "value", t.alias("t"), F.lead(t).over(w).alias("t_next")
    ).filter(F.col("t_next").isNotNull())
    dt = F.col("t_next") - F.col("t")
    return obs.groupBy("user_id").agg(
        F.round(F.sum(F.col("value") * dt) / F.sum(dt), 6).alias("twa"),
        F.sum(dt).alias("span_us"),
        F.count("*").alias("n_obs"),
    )


def _pagerank_oracle(damping: float = 0.85, iterations: int = 10) -> str:
    """Unrolled power-iteration oracle: one CTE pair per round, identical
    arithmetic (double teleport = 1.0 - damping, 1e-9 per-round rounding)."""
    head = """
WITH e AS MATERIALIZED (
  SELECT s_nationkey AS src, c_nationkey AS dst, count(*) AS w
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  GROUP BY 1, 2
), en AS MATERIALIZED (
  SELECT src, dst, w / sum(w) OVER (PARTITION BY src) AS p FROM e
), nodes AS MATERIALIZED (
  SELECT n_nationkey AS node FROM nation
), nn AS MATERIALIZED (
  SELECT count(*) AS n FROM nodes
), r0 AS MATERIALIZED (
  SELECT node, 1.0::DOUBLE / n AS r FROM nodes CROSS JOIN nn
)"""
    d = f"{damping}::DOUBLE"
    iters = "".join(
        f""", c{i} AS MATERIALIZED (
  SELECT dst, sum(r * p) AS con FROM en JOIN r{i - 1} ON src = node GROUP BY dst
), d{i} AS MATERIALIZED (
  SELECT coalesce(sum(r), 0.0) AS dm FROM r{i - 1}
  WHERE node NOT IN (SELECT DISTINCT src FROM en)
), r{i} AS MATERIALIZED (
  SELECT node, round((1.0::DOUBLE - {d}) / n
                     + {d} * (coalesce(con, 0.0) + dm / n), 9) AS r
  FROM nodes CROSS JOIN nn CROSS JOIN d{i} LEFT JOIN c{i} ON node = dst
)"""
        for i in range(1, iterations + 1)
    )
    tail = f"""
SELECT n_name AS nation, round(r, 6) AS pagerank
FROM r{iterations} JOIN nation ON node = n_nationkey
"""
    return head + iters + tail


def _pagerank_graph(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """q_pagerank's input: the weighted trade edges ``(src, dst, w)``, w =
    lineitem count per supplier nation → customer nation (self-trade
    included, no count cut), and the node list ``(node)``, every nation."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    edges = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst"))
        .groupBy("src", "dst")
        .agg(F.count("*").alias("w"))
    )
    nodes = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("node")
    )
    return edges, nodes


@register(
    "q_pagerank",
    driver=True,  # §2.9 iterative-algorithm extension — rotated in r11 (wave 6)
    oracle=_pagerank_oracle(),
)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the nation trade graph (supplier nation → customer
    nation, edge weight = lineitem count): the damped weighted power
    iteration — the second bounded-iteration graph algorithm next to
    q_dedup_clusters' label propagation (SURVEY §2.9 batch loops). Oracle:
    the same 10 rounds unrolled as a CTE chain, byte-identical arithmetic
    (per-round 1e-9 rounding swallows double-sum order drift — see
    operators/graph.py for the determinism contract).

    Scale: the edge build is the star join (broadcast dims onto lineitem);
    per round, edges stay put (bucket by src at 100 TB → exchange-free
    iteration), the rank vector broadcasts (co-bucket instead when it
    outgrows the broadcast threshold), lineage is checkpoint-cut. Fixed
    iteration count (not convergence) so the oracle can unroll it."""
    from ..operators.graph import pagerank as _pr

    ranks = _pr(*_pagerank_graph(spark, sf_dir), damping=0.85, iterations=10)
    nat = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return ranks.join(
        F.broadcast(nat), F.col("node") == F.col("n_nationkey")
    ).select(F.col("n_name").alias("nation"), F.round("r", 6).alias("pagerank"))


@register(
    "q_mad_outliers",
    driver=False,  # §2.3 robust-statistics extension — pytest oracle
    oracle="""
WITH e AS (
  SELECT event_type, value FROM events WHERE value IS NOT NULL
), med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med FROM e GROUP BY event_type
), dev AS (
  SELECT e.event_type, abs(value - med) AS adev, med
  FROM e JOIN med USING (event_type)
), st AS (
  SELECT event_type, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY event_type
)
SELECT d.event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN adev > 3.0 * 1.4826 * mad THEN 1 ELSE 0 END)
            AS BIGINT)          AS n_outliers,
       round(any_value(med), 6) AS med,
       round(any_value(mad), 6) AS mad
FROM dev d JOIN st USING (event_type)
GROUP BY d.event_type
""",
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier census per event type: median/MAD (median absolute
    deviation) with the 1.4826 normal-consistency factor, flagging values
    beyond 3 robust sigmas — the data-quality sibling of q_grouped_map_zscore
    that a heavy-tailed metric stream needs (mean/stddev are themselves
    dragged by the outliers they're meant to find).

    Parity: Spark ``percentile`` ≡ DuckDB ``quantile_cont`` (exact linear
    interpolation, no summation → no float drift; q_agg_stats precedent),
    so the UNROUNDED medians agree and the strict-> outlier count is
    engine-stable. Scale: two keyed percentile passes + a counting pass,
    all on the event_type key; the medians table is a tiny broadcast. Exact
    per-group percentiles need the group multiset — swap
    ``approx_percentile`` in at 100 TB (the anchor/sketch pairing of
    q_agg_stats / q_approx_sample)."""
    e = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", "value")
    )
    med = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("value") - F.col("med")).alias("adev"), "med"
    )
    st = dev.groupBy("event_type").agg(
        F.percentile("adev", F.lit(0.5)).alias("mad")
    )
    is_out = F.when(
        F.col("adev") > F.lit(3.0) * F.lit(1.4826) * F.col("mad"), 1
    ).otherwise(0)
    return (
        dev.join(F.broadcast(st), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(is_out).alias("n_outliers"),
            F.round(F.first("med"), 6).alias("med"),
            F.round(F.first("mad"), 6).alias("mad"),
        )
    )


@register(
    "q_winsorize",
    driver=False,  # §2.3 robust-statistics extension — pytest oracle
    oracle="""
WITH e AS (
  SELECT event_type, value FROM events WHERE value IS NOT NULL
), q AS (
  -- bounds rounded at 6 dp in BOTH engines: interpolated-percentile
  -- formulas differ by a ulp across engines, and a 1-ulp bound flips every
  -- boundary-tied row's clip/count at once (caught by the sf1 sweep)
  SELECT event_type,
         round(quantile_cont(value, 0.05), 6) AS lo,
         round(quantile_cont(value, 0.95), 6) AS hi
  FROM e GROUP BY event_type
)
SELECT e.event_type,
       CAST(count(*) AS BIGINT)                             AS n,
       CAST(sum(CASE WHEN value < lo OR value > hi THEN 1 ELSE 0 END)
            AS BIGINT)                                      AS n_clipped,
       round(avg(value), 6)                                 AS raw_mean,
       round(avg(greatest(lo, least(hi, value))), 6)        AS wins_mean,
       round(any_value(lo), 6)                              AS p05,
       round(any_value(hi), 6)                              AS p95
FROM e JOIN q USING (event_type)
GROUP BY e.event_type
""",
)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized means per event type: clamp values to the [p05, p95] band
    and compare the clipped mean to the raw one — the standard tail-taming
    transform before averaging a heavy-tailed metric (the transform sibling
    of q_mad_outliers' census; same anchor/sketch percentile story).

    Scale: one percentile pass builds a per-key (lo, hi) table — tiny,
    broadcast back — then a single partial+final agg computes raw and
    clipped means together; the clamp is a codegen ``greatest/least``, no
    second shuffle. The (lo, hi) bounds are rounded at 6 dp in both
    engines BEFORE clipping: raw interpolated percentiles can differ by a
    ulp across engines (disproven 'no summation ⇒ agreement' — the sf1
    sweep caught a boundary-tied flip), and 5e-7 spacing vs ~1e-13 ulp
    makes the rounded bounds engine-identical."""
    e = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", "value")
    )
    q = e.groupBy("event_type").agg(
        # 6-dp bound rounding in both engines — see the oracle comment
        F.round(F.percentile("value", F.lit(0.05)), 6).alias("lo"),
        F.round(F.percentile("value", F.lit(0.95)), 6).alias("hi"),
    )
    clipped = F.greatest(F.col("lo"), F.least(F.col("hi"), F.col("value")))
    n_clip = F.when(
        (F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi")), 1
    ).otherwise(0)
    return (
        e.join(F.broadcast(q), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(n_clip).alias("n_clipped"),
            F.round(F.avg("value"), 6).alias("raw_mean"),
            F.round(F.avg(clipped), 6).alias("wins_mean"),
            F.round(F.first("lo"), 6).alias("p05"),
            F.round(F.first("hi"), 6).alias("p95"),
        )
    )


#: co-purchase edge threshold of the brand graph (``_brand_edges``)
_EDGE_MIN_COPURCHASE = 80


def _brand_baskets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (order, brand) basket table — the input of
    q_clustering_coeff's co-purchase graph. Broadcast part onto
    lineitem, one distinct."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .select(F.col("l_orderkey").alias("oid"), F.col("p_brand").alias("item"))
        .distinct()
    )


def _brand_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oriented (u < v) co-purchase edges with ≥ _EDGE_MIN_COPURCHASE shared
    orders, localCheckpointed: every consumer references the edge table 3-4×
    (two-hop joins, symmetrization) and ReuseExchange does not collapse the
    repeated basket self-join subtrees (same discipline as
    q_bfs_reachability)."""
    b = _brand_baskets(spark, sf_dir)
    u = b.select("oid", F.col("item").alias("u"))
    v = b.select("oid", F.col("item").alias("v"))
    return (
        u.join(v, "oid")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= _EDGE_MIN_COPURCHASE)
        .select("u", "v")
        .transform(checkpoint)
    )


def _triangle_corners(edges: DataFrame) -> DataFrame:
    """Triangles of an oriented (u < v) edge table, exploded to their three
    corner nodes (column ``node``). The a<b<c orientation enumerates each
    triangle exactly once; at scale orient by degree (low→high) so every
    wedge is generated only at its smallest corner."""
    e1 = edges.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = edges.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = edges.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    return (
        tri.select(F.col("a").alias("node"))
        .unionByName(tri.select(F.col("b").alias("node")))
        .unionByName(tri.select(F.col("c").alias("node")))
    )


#: The nation trade graph of the §2.11 graph queries: supplier nation →
#: customer nation, one edge per pair that ships at least ``min_count`` line
#: items across a border. Spark builders run it through ``_trade_edges``;
#: the DuckDB oracles embed the same text. DuckDB inlines a plain CTE at
#: every reference, so an oracle that reads the edges more than once (an
#: unrolled peel, a recursive step) re-runs this four-table join each time:
#: q_kcore's oracle passed 100 GB at sf0.1 and the recursive closures took
#: >120 s at sf1 instead of 1.5 s. Those oracles declare it AS MATERIALIZED.
_TRADE_EDGES_SQL = """\
  SELECT s_nationkey AS src, c_nationkey AS dst
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  WHERE s_nationkey <> c_nationkey
  GROUP BY 1, 2 HAVING count(*) >= {min_count}"""


def _trade_edges(spark: SparkSession, sf_dir: str, min_count: int) -> DataFrame:
    """``(src, dst)`` edges of the nation trade graph (``_TRADE_EDGES_SQL``):
    dims broadcast onto lineitem, one aggregation to |nations|² rows."""
    register_views(spark, sf_dir)
    return spark.sql(_TRADE_EDGES_SQL.format(min_count=min_count))


@register(
    "q_trending_terms",
    driver=False,  # §2.3 trend-detection extension — pytest oracle
    oracle="""
WITH k AS (
  SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS term,
         (ts >= TIMESTAMP '2024-01-24 00:00:00') AS recent
  FROM events WHERE props IS NOT NULL
), per AS (
  SELECT term,
         CAST(sum(CASE WHEN recent THEN 1 ELSE 0 END) AS BIGINT)     AS n_recent,
         CAST(sum(CASE WHEN NOT recent THEN 1 ELSE 0 END) AS BIGINT) AS n_base
  FROM k GROUP BY term
), tot AS (
  SELECT CAST(sum(n_recent) AS BIGINT) AS t_recent,
         CAST(sum(n_base) AS BIGINT)   AS t_base,
         count(*)                      AS v
  FROM per
)
SELECT term, n_recent, n_base,
       round(((n_recent + 1.0) / (t_recent + v))
           / ((n_base + 1.0) / (t_base + v)), 6) AS lift
FROM per CROSS JOIN tot
""",
)
def q_trending_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trend detection: per-term frequency lift of the trailing week
    (ts ≥ Jan 24) against the preceding baseline, add-one smoothed — the
    burst-detection census behind "trending now" surfaces, over the JSON
    ``props.k`` term stream (same extraction as q_json_extract).

    Scale: one pass builds per-term split counts (single term-keyed
    shuffle, partial+final CASE sums fused into the scan); the totals are
    a 1-row broadcast; lift is exact integer arithmetic in double. In
    production the cutoff is a parameter — pinned literal here so both
    engines split identically."""
    e = table(spark, sf_dir, "events").filter(F.col("props").isNotNull())
    term = F.get_json_object("props", "$.k").cast("long")
    recent = F.col("ts") >= F.lit("2024-01-24 00:00:00").cast("timestamp")
    per = (
        e.select(term.alias("term"), recent.alias("recent"))
        .groupBy("term")
        .agg(
            F.sum(F.when(F.col("recent"), 1).otherwise(0)).alias("n_recent"),
            F.sum(F.when(~F.col("recent"), 1).otherwise(0)).alias("n_base"),
        )
        # materialize the tiny per-term table once: the totals branch would
        # otherwise replay the full scan + term shuffle a second time
        .transform(checkpoint)
    )
    tot = per.agg(
        F.sum("n_recent").alias("t_recent"),
        F.sum("n_base").alias("t_base"),
        F.count("*").alias("v"),
    )
    lift = F.round(
        ((F.col("n_recent") + F.lit(1.0)) / (F.col("t_recent") + F.col("v")))
        / ((F.col("n_base") + F.lit(1.0)) / (F.col("t_base") + F.col("v"))),
        6,
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "term", "n_recent", "n_base", lift.alias("lift")
    )


@register(
    "q_drift_psi",
    driver=False,  # §2.3 snapshot-drift extension — pytest oracle
    oracle="""
WITH e AS (
  SELECT event_type, value,
         (ts >= TIMESTAMP '2024-01-16 00:00:00') AS cur
  FROM events WHERE value IS NOT NULL
), edges AS (
  -- edges rounded at 6 dp in BOTH engines: interpolated percentiles are
  -- computed with differently-arranged (equivalent) formulas, and a 1-ulp
  -- edge difference flips every row whose value ties the boundary (10 at
  -- once on duplicated data — caught by the sf1 sweep)
  SELECT event_type,
         list_transform(quantile_cont(value, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
                        x -> round(x, 6)) AS ed
  FROM e WHERE NOT cur GROUP BY event_type
), bucketed AS (
  SELECT e.event_type, cur,
         len(list_filter(ed, x -> value > x)) AS b
  FROM e JOIN edges ON e.event_type = edges.event_type
), cnt AS (
  SELECT event_type, b,
         CAST(sum(CASE WHEN NOT cur THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
         CAST(sum(CASE WHEN cur THEN 1 ELSE 0 END) AS BIGINT)     AS n_cur
  FROM bucketed GROUP BY event_type, b
), grid AS (
  SELECT event_type, g.b, coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur
  FROM (SELECT DISTINCT event_type FROM e)
  CROSS JOIN (SELECT unnest(range(0, 10)) AS b) g
  LEFT JOIN cnt USING (event_type, b)
), tot AS (
  SELECT event_type,
         CAST(sum(n_ref) AS BIGINT) AS t_ref,
         CAST(sum(n_cur) AS BIGINT) AS t_cur
  FROM grid GROUP BY event_type
)
SELECT g.event_type, t_ref, t_cur,
       round(sum(((n_cur + 0.5) / (t_cur + 5.0) - (n_ref + 0.5) / (t_ref + 5.0))
                 * ln(((n_cur + 0.5) / (t_cur + 5.0))
                      / ((n_ref + 0.5) / (t_ref + 5.0)))), 6) AS psi
FROM grid g JOIN tot USING (event_type)
GROUP BY g.event_type, t_ref, t_cur
""",
)
def q_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index between snapshots: decile edges learned
    on the reference half (ts < Jan 16), both halves bucketed by them, and
    PSI = Σ (p_cur − p_ref)·ln(p_cur/p_ref) per event type with +0.5
    Laplace smoothing — the standard "did this feature's distribution
    move" alarm (rule of thumb: > 0.2 = investigate) for any column a
    model consumes.

    Scale: the decile edges are per-key interpolated percentiles (exact
    here, `approx_percentile` at 100 TB — the usual anchor/sketch swap)
    broadcast as a 9-element array; bucketing is a codegen
    `size(filter(...))` over that array — no join per edge, no shuffle
    beyond the (key, bucket) count; the 10-bucket grid is materialized so
    empty buckets still contribute their smoothed term identically in
    both engines."""
    e = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            "value",
            (F.col("ts") >= F.lit("2024-01-16 00:00:00").cast("timestamp")).alias("cur"),
        )
    )
    pcts = F.array(*[F.lit(i / 10.0) for i in range(1, 10)])
    edges = (
        e.filter(~F.col("cur"))
        .groupBy("event_type")
        # 6-dp edge rounding in both engines — see the oracle comment
        .agg(
            F.transform(
                F.percentile("value", pcts), lambda x: F.round(x, 6)
            ).alias("ed")
        )
    )
    bucketed = e.join(F.broadcast(edges), "event_type").select(
        "event_type",
        "cur",
        F.size(F.filter(F.col("ed"), lambda x: F.col("value") > x)).alias("b"),
    )
    cnt = bucketed.groupBy("event_type", "b").agg(
        F.sum(F.when(~F.col("cur"), 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(F.col("cur"), 1).otherwise(0)).alias("n_cur"),
    )
    grid = (
        e.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(
            e.sparkSession.range(0, 10).select(F.col("id").alias("b"))
        ))
        .join(cnt, ["event_type", "b"], "left")
        .select(
            "event_type",
            "b",
            F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
            F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
        )
    )
    tot = grid.groupBy("event_type").agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    p_cur = (F.col("n_cur") + 0.5) / (F.col("t_cur") + 5.0)
    p_ref = (F.col("n_ref") + 0.5) / (F.col("t_ref") + 5.0)
    return (
        grid.join(F.broadcast(tot), "event_type")
        .groupBy("event_type", "t_ref", "t_cur")
        .agg(F.round(F.sum((p_cur - p_ref) * F.log(p_cur / p_ref)), 6).alias("psi"))
        .select("event_type", "t_ref", "t_cur", "psi")
    )


@register(
    "q_clustering_coeff",
    driver=False,  # §2.9 graph extension — pytest oracle
    oracle="""
WITH b AS MATERIALIZED (
  -- MATERIALIZED (r9): edges is referenced 8x below (two-hop triangle
  -- joins x3 + symmetrization); inlined, DuckDB re-ran the 6M-row basket
  -- self-join per reference and blew the 40 GiB spill cap at the sf1
  -- replica (the q_bfs_reachability class, one level up)
  SELECT DISTINCT l_orderkey AS oid, p_brand AS item
  FROM lineitem JOIN part ON l_partkey = p_partkey
), edges AS MATERIALIZED (
  SELECT a.item AS u, c.item AS v
  FROM b a JOIN b c ON a.oid = c.oid AND a.item < c.item
  GROUP BY 1, 2 HAVING count(*) >= 80
), und AS (
  SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges
), deg AS (
  SELECT u AS node, CAST(count(*) AS BIGINT) AS degree FROM und GROUP BY u
), tri AS (
  SELECT node, CAST(count(*) AS BIGINT) AS triangles FROM (
    SELECT e1.u AS node FROM edges e1
    JOIN edges e2 ON e1.v = e2.u JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    UNION ALL
    SELECT e1.v FROM edges e1
    JOIN edges e2 ON e1.v = e2.u JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    UNION ALL
    SELECT e2.v FROM edges e1
    JOIN edges e2 ON e1.v = e2.u JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
  ) GROUP BY node
)
SELECT d.node, degree, coalesce(triangles, 0) AS triangles,
       round(CASE WHEN degree >= 2
                  THEN 2.0 * coalesce(triangles, 0) / (degree * (degree - 1.0))
                  ELSE 0.0 END, 6) AS clustering_coeff
FROM deg d LEFT JOIN tri ON d.node = tri.node
""",
)
def q_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node: 2·triangles / (deg·(deg−1))
    over the brand co-purchase graph (edge = brands co-occurring in ≥ 80
    orders, the thresholded brand-pair table) — the
    graph family's neighborhood-density metric (nodes with degree < 2
    report 0). The ``triangles`` column is the per-node triangle census,
    0 for nodes on no triangle. Exact integer inputs → the ratio is
    engine-identical before the 6 dp round.

    Scale: degree is one shuffle over the symmetrized edge list; triangle
    enumeration joins the ORIENTED (a<b<c) edge table twice, so each
    triangle is generated once, at its smallest corner (orient by degree,
    low→high, at scale), then explodes to its three corners; the
    coefficient is a broadcast-free left join of two per-node tables that
    are each O(nodes)."""
    edges = _brand_edges(spark, sf_dir)
    und = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = und.groupBy(F.col("u").alias("node")).agg(
        F.count("*").alias("degree")
    )
    tri = (
        _triangle_corners(edges)
        .groupBy("node")
        .agg(F.count("*").alias("triangles"))
    )
    cc = F.when(
        F.col("degree") >= 2,
        2.0 * F.coalesce(F.col("triangles"), F.lit(0))
        / (F.col("degree") * (F.col("degree") - 1.0)),
    ).otherwise(F.lit(0.0))
    return deg.join(tri, "node", "left").select(
        "node",
        "degree",
        F.coalesce("triangles", F.lit(0)).alias("triangles"),
        F.round(cc, 6).alias("clustering_coeff"),
    )


#: EWMA(α=0.3) truncated to a 20-term horizon — weights embedded as the SAME
#: full-precision literals in the Spark plan and the oracle
_EWMA_ALPHA = 0.3
_EWMA_W = [_EWMA_ALPHA * (1 - _EWMA_ALPHA) ** j for j in range(20)]


def _ewma_oracle() -> str:
    num = " + ".join(
        f"{w!r} * coalesce(lag(v, {j}) OVER w, 0.0)" for j, w in enumerate(_EWMA_W)
    )
    den = " + ".join(
        f"{w!r} * (CASE WHEN lag(v, {j}) OVER w IS NOT NULL THEN 1.0 ELSE 0.0 END)"
        for j, w in enumerate(_EWMA_W)
    )
    return f"""
SELECT user_id, event_id, round(({num}) / ({den}), 6) AS ewma
FROM (SELECT user_id, event_id, ts, value AS v FROM events
      WHERE value IS NOT NULL)
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


@register(
    "q_ewma",
    driver=False,  # §2.5 smoothing extension — pytest oracle
    oracle=_ewma_oracle(),
)
def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average (α=0.3), truncated at a
    20-term horizon: the metric-smoothing staple. The infinite recurrence
    ewma_t = α·x_t + (1−α)·ewma_{t−1} is deliberately finite-horizoned so
    it becomes a PURE WINDOW expression — 20 lag terms with literal
    weights, renormalized over the lags that exist (series heads) — which
    keeps it in whole-stage codegen, restartable, and oracle-replayable;
    the dropped tail weighs (1−α)^20 < 0.08%. The true recurrence needs a
    sequential scan (applyInPandas per key) — this is the form that
    scales, one user_id shuffle shared by all 20 lags.

    Weights are embedded as identical full-precision double literals in
    both engines; the weighted sum is a fixed left-to-right expression
    chain, so only the final division needs the 6 dp round."""
    from pyspark.sql import Window

    e = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("user_id", "event_id", "ts", F.col("value").alias("v"))
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    num = None
    den = None
    for j, wt in enumerate(_EWMA_W):
        lj = F.lag("v", j).over(w)
        tn = F.lit(wt) * F.coalesce(lj, F.lit(0.0))
        td = F.lit(wt) * F.when(lj.isNotNull(), 1.0).otherwise(0.0)
        num = tn if num is None else num + tn
        den = td if den is None else den + td
    return e.select(
        "user_id", "event_id", F.round(num / den, 6).alias("ewma")
    )


@register(
    "q_benford",
    driver=False,  # §2.3 data-audit extension — pytest oracle
    oracle="""
WITH d AS (
  SELECT CAST(floor(o_totalprice
               / power(10, floor(log10(o_totalprice)))) AS BIGINT) AS digit
  FROM orders WHERE o_totalprice > 0
), c AS (
  SELECT digit, CAST(count(*) AS BIGINT) AS n_obs FROM d GROUP BY digit
), t AS (
  SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM c
)
SELECT digit, n_obs,
       round(n_obs / CAST(n AS DOUBLE), 6)              AS p_obs,
       round(log10(1.0 + 1.0 / digit), 6)               AS p_benford,
       round(n_obs / CAST(n AS DOUBLE)
             - log10(1.0 + 1.0 / digit), 6)             AS deviation
FROM c CROSS JOIN t
""",
)
def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals: observed leading-
    digit shares vs log10(1 + 1/d) — the classic fabricated-data /
    integrity screen for financial columns (synthetic fixtures deviate,
    which is exactly what the report shows). First digit extracted
    arithmetically (x / 10^⌊log10 x⌋) — no string formatting, which
    differs across engines.

    Scale: one partial+final agg to 9 rows, a 1-row total broadcast —
    free at any size."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    digit = F.floor(
        F.col("o_totalprice")
        / F.pow(F.lit(10.0), F.floor(F.log10("o_totalprice")))
    ).cast("long")
    c = o.select(digit.alias("digit")).groupBy("digit").agg(
        F.count("*").alias("n_obs")
    )
    t = c.agg(F.sum("n_obs").alias("n"))
    p_obs = F.col("n_obs") / F.col("n").cast("double")
    p_ben = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    return c.crossJoin(F.broadcast(t)).select(
        "digit",
        "n_obs",
        F.round(p_obs, 6).alias("p_obs"),
        F.round(p_ben, 6).alias("p_benford"),
        F.round(p_obs - p_ben, 6).alias("deviation"),
    )


@register(
    "q_funnel_latency",
    driver=False,  # §2.3 funnel-depth extension — pytest oracle
    oracle="""
WITH fv AS (
  SELECT user_id, min(ts) AS view_ts FROM events
  WHERE event_type = 'view' GROUP BY user_id
), fp AS (
  SELECT f.user_id, min(e.ts) AS conv_ts, any_value(f.view_ts) AS view_ts
  FROM fv f JOIN events e
    ON e.user_id = f.user_id AND e.event_type = 'purchase'
   AND e.ts > f.view_ts
  GROUP BY f.user_id
)
SELECT CAST(count(*) AS BIGINT)                                  AS n_converted,
       round(quantile_cont(epoch_us(conv_ts) - epoch_us(view_ts),
                           0.5) / 3600e6, 4)                     AS p50_hours,
       round(quantile_cont(epoch_us(conv_ts) - epoch_us(view_ts),
                           0.9) / 3600e6, 4)                     AS p90_hours
FROM fp
""",
)
def q_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: latency from each user's first view
    to their first subsequent purchase, summarized as p50/p90 hours — the
    metric layer on top of q_funnel's step census (how LONG conversion
    takes, not just whether it happens).

    Latencies are EXACT integer microseconds (unix_micros ≡ epoch_us —
    seconds casts diverge cross-engine, q_time_weighted_avg precedent);
    the interpolated percentile of integers agrees cross-engine with no
    summation. Scale: two keyed min-aggs (never an event-list collect) +
    one global percentile over one row per converted user — swap
    approx_percentile at 100 TB (anchor/sketch pairing)."""
    e = table(spark, sf_dir, "events")
    fv = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("view_ts"))
    )
    fp = (
        fv.join(
            e.filter(F.col("event_type") == "purchase").select(
                F.col("user_id").alias("pu"), F.col("ts").alias("pts")
            ),
            (F.col("user_id") == F.col("pu")) & (F.col("pts") > F.col("view_ts")),
        )
        .groupBy("user_id")
        .agg(F.min("pts").alias("conv_ts"), F.first("view_ts").alias("view_ts"))
    )
    lat = (F.unix_micros("conv_ts") - F.unix_micros("view_ts")).alias("lat")
    return fp.select(lat).agg(
        F.count("*").alias("n_converted"),
        F.round(F.percentile("lat", F.lit(0.5)) / F.lit(3600e6), 4).alias("p50_hours"),
        F.round(F.percentile("lat", F.lit(0.9)) / F.lit(3600e6), 4).alias("p90_hours"),
    )


@register(
    "q_cusum",
    driver=False,  # §2.3 monitoring extension (sequential) — pytest oracle
    oracle="""
WITH RECURSIVE m AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         round(avg(value), 6) AS m
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
), mu AS (
  SELECT event_type, round(avg(m), 6) AS mu FROM m GROUP BY 1
), o AS MATERIALIZED (
  -- MATERIALIZED: inlined, DuckDB re-evaluates this CTE every recursion
  -- round (the q_cycle_nodes sf1 hang class); the hint pins one evaluation
  SELECT m.event_type, day, m.m, mu.mu,
         row_number() OVER (PARTITION BY m.event_type ORDER BY day) AS rn
  FROM m JOIN mu USING (event_type)
), r AS (
  SELECT event_type, rn, day, m, mu,
         greatest(0.0, m - mu - 1.5) AS s
  FROM o WHERE rn = 1
  UNION ALL
  SELECT o.event_type, o.rn, o.day, o.m, o.mu,
         greatest(0.0, r.s + o.m - o.mu - 1.5)
  FROM r JOIN o ON o.event_type = r.event_type AND o.rn = r.rn + 1
)
SELECT event_type, day, round(s, 6) AS cusum, (s > 3.0) AS alarm
FROM r WHERE s > 0
""",
)
def q_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection over daily metric means: the one-sided
    cumulative-sum chart s_t = max(0, s_{t−1} + x_t − μ − k) with slack
    k=1.5 and alarm threshold h=3 — the standard drift monitor that flags
    a sustained upward shift long before any single day looks anomalous
    (the sequential complement to q_drift_psi's two-snapshot test).

    The clamped recurrence is order-dependent (not window-expressible), so
    it runs as the grouped-map escape hatch — one event_type shuffle, a
    ~30-row series per key — against a per-key recursive-CTE oracle, the
    same sequential-semantics pattern as q_session_capped. Parity rests on
    identical inputs: the daily means and per-key baseline are rounded at
    6 dp in BOTH engines BEFORE the recurrence, and max/+ are exact IEEE
    ops, so the raw s values agree bit-for-bit; outputs round at 6 dp."""
    import pandas as pd

    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    m = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.round(F.avg("value"), 6).alias("m"))
    mu = m.groupBy("event_type").agg(F.round(F.avg("m"), 6).alias("mu"))
    inp = m.join(F.broadcast(mu), "event_type")

    def cusum(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day", kind="mergesort")
        s = 0.0
        rows = []
        mu_v = float(pdf["mu"].iloc[0])
        for day, mv in zip(pdf["day"], pdf["m"]):
            s = max(0.0, s + float(mv) - mu_v - 1.5)
            if s > 0:
                rows.append((pdf["event_type"].iloc[0], day, s))
        return pd.DataFrame(rows, columns=["event_type", "day", "s"])

    out = inp.groupBy("event_type").applyInPandas(
        cusum, schema="event_type string, day timestamp, s double"
    )
    return out.select(
        "event_type",
        "day",
        F.round("s", 6).alias("cusum"),
        (F.col("s") > 3.0).alias("alarm"),
    )


# --------------------------------------------------------------------------
# Markov removal-effect attribution (dialect-identical SQL, both engines)
# --------------------------------------------------------------------------
_MARKOV_ROUNDS = 8

_MARKOV_HEAD = """
WITH ev AS {M}(
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'purchase' THEN 'CONV' ELSE event_type END
           AS state
  FROM events
), rn1 AS {M}(
  SELECT user_id, state,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM ev
), rn2 AS {M}(
  SELECT user_id, state, rn,
         min(CASE WHEN state = 'CONV' THEN rn END)
           OVER (PARTITION BY user_id) AS conv_rn
  FROM rn1
), J AS {M}(
  SELECT user_id, state, rn FROM rn2
  WHERE conv_rn IS NULL OR rn <= conv_rn
), tr AS {M}(
  SELECT src, dst FROM (
    SELECT user_id, state AS src,
           lead(state) OVER (PARTITION BY user_id ORDER BY rn) AS dst
    FROM J
  ) WHERE src <> 'CONV'
), trans AS {M}(
  SELECT src, coalesce(dst, 'DROP') AS dst FROM tr
  UNION ALL
  SELECT 'START' AS src, state AS dst FROM J WHERE rn = 1
), counts AS {M}(
  SELECT src, dst, CAST(count(*) AS BIGINT) AS c FROM trans GROUP BY 1, 2
), chans AS {M}(
  SELECT DISTINCT src AS ch FROM counts WHERE src <> 'START'
), scen AS {M}(
  SELECT 'base' AS scenario, CAST(NULL AS STRING) AS removed
  UNION ALL
  SELECT ch AS scenario, ch AS removed FROM chans
), redirected AS {M}(
  SELECT s.scenario, c.src,
         CASE WHEN s.removed IS NOT NULL AND c.dst = s.removed
              THEN 'DROP' ELSE c.dst END AS dst,
         c.c
  FROM counts c CROSS JOIN scen s
), norm AS {M}(
  SELECT scenario, src, dst,
         round(CAST(sum(c) AS DOUBLE)
               / sum(sum(c)) OVER (PARTITION BY scenario, src), 12) AS p
  FROM redirected GROUP BY scenario, src, dst
)"""


def _markov_oracle(rounds: int = _MARKOV_ROUNDS) -> str:
    """Bounded-horizon Markov attribution, unrolled for DuckDB with
    MATERIALIZED CTEs — each round references the previous TWICE, so
    without materialization the inlining is exponential (the q_pagerank /
    q_bpe_learn oracle technique). Spark runs the SAME head SQL once and
    iterates the rounds imperatively with localCheckpoint (same
    arithmetic, per-round 12 dp rounding)."""
    head = _MARKOV_HEAD.format(M="MATERIALIZED ") + """, states AS MATERIALIZED (
  SELECT DISTINCT st FROM (
    SELECT src AS st FROM norm UNION SELECT dst AS st FROM norm
  )
), v0 AS MATERIALIZED (
  SELECT sc.scenario, s.st,
         CAST(CASE WHEN s.st = 'CONV' THEN 1.0 ELSE 0.0 END AS DOUBLE) AS p
  FROM states s CROSS JOIN (SELECT DISTINCT scenario FROM scen) sc
)"""
    steps = "".join(
        f""", v{i} AS MATERIALIZED (
  SELECT v.scenario, v.st,
         round(CASE WHEN v.st = 'CONV' THEN 1.0
                    WHEN v.st = 'DROP' THEN 0.0
                    ELSE coalesce(t.nextp, 0.0) END, 12) AS p
  FROM v{i - 1} v LEFT JOIN (
    SELECT n.scenario, n.src AS st, sum(n.p * w.p) AS nextp
    FROM norm n JOIN v{i - 1} w
      ON w.scenario = n.scenario AND w.st = n.dst
    GROUP BY 1, 2
  ) t ON t.scenario = v.scenario AND t.st = v.st
)"""
        for i in range(1, rounds + 1)
    )
    tail = f"""
SELECT c.ch AS channel,
       round(b.p, 6) AS p_conv_base,
       round(r.p, 6) AS p_conv_removed,
       round(CASE WHEN b.p > 0.0 THEN (b.p - r.p) / b.p
                  ELSE 0.0 END, 6) AS removal_effect
FROM chans c
JOIN v{rounds} b ON b.scenario = 'base' AND b.st = 'START'
JOIN v{rounds} r ON r.scenario = c.ch AND r.st = 'START'"""
    return head + steps + tail


@register(
    "q_markov_attribution",
    # driver slot since r9 (VERDICT r8 #1): first attribution-family grade
    oracle=_markov_oracle(),
)
def q_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-driven (Markov removal-effect) attribution — the principled
    successor to last-touch (q_attribution): journeys truncate at first
    conversion, a first-order transition matrix is estimated, and each
    channel's credit is the RELATIVE DROP in START→CONV probability when
    that channel's inbound edges are redirected to DROP. Conversion
    probability is DEFINED as 8-step bounded-horizon reachability of CONV
    (journeys are short; 8 steps carries effectively all mass) — a fixed
    quantity both engines compute with identical arithmetic: the transition
    build runs as ONE shared SQL head, and each round rounds at 12 dp
    (the q_pagerank float-iteration discipline). Spark iterates the rounds
    imperatively with localCheckpoint — the unrolled form references each
    previous vector twice, which inlines exponentially without DuckDB's
    MATERIALIZED hint.

    Scale: journey building is one user-keyed window pass over the events
    scan (once); the transition matrix is |states|² ≈ tens of rows, so all
    8 rounds × |channels|+1 scenarios are metadata-sized regardless of
    event volume. At 100 TB: one shuffle on user_id, then driver-trivial
    iteration."""
    from ..session import register_views

    register_views(spark, sf_dir)
    norm = spark.sql(
        _MARKOV_HEAD.format(M="") + "\nSELECT scenario, src, dst, p FROM norm"
    ).transform(checkpoint)
    states = (
        norm.select(F.col("src").alias("st"))
        .union(norm.select(F.col("dst").alias("st")))
        .distinct()
    )
    scens = norm.select("scenario").distinct()
    v = states.crossJoin(scens).select(
        "scenario",
        "st",
        F.when(F.col("st") == "CONV", 1.0).otherwise(0.0).alias("p"),
    ).transform(checkpoint)
    for _ in range(_MARKOV_ROUNDS):
        nxt = (
            norm.alias("n")
            .join(
                v.alias("w"),
                (F.col("w.scenario") == F.col("n.scenario"))
                & (F.col("w.st") == F.col("n.dst")),
            )
            .groupBy(F.col("n.scenario").alias("scenario"),
                     F.col("n.src").alias("st"))
            .agg(F.sum(F.col("n.p") * F.col("w.p")).alias("nextp"))
        )
        v = (
            v.join(nxt, ["scenario", "st"], "left")
            .select(
                "scenario",
                "st",
                F.round(
                    F.when(F.col("st") == "CONV", 1.0)
                    .when(F.col("st") == "DROP", 0.0)
                    .otherwise(F.coalesce(F.col("nextp"), F.lit(0.0))),
                    12,
                ).alias("p"),
            )
            .transform(checkpoint)
        )
    chans = norm.filter(F.col("scenario") != "base").select(
        F.col("scenario").alias("ch")
    ).distinct()
    base = v.filter((F.col("scenario") == "base") & (F.col("st") == "START")).select(
        F.col("p").alias("bp")
    )
    rem = v.filter(F.col("st") == "START").select(
        F.col("scenario").alias("ch"), F.col("p").alias("rp")
    )
    return (
        chans.join(rem, "ch")
        .crossJoin(F.broadcast(base))
        .select(
            F.col("ch").alias("channel"),
            F.round("bp", 6).alias("p_conv_base"),
            F.round("rp", 6).alias("p_conv_removed"),
            F.round(
                F.when(
                    F.col("bp") > 0.0,
                    (F.col("bp") - F.col("rp")) / F.col("bp"),
                ).otherwise(0.0),
                6,
            ).alias("removal_effect"),
        )
    )


# --------------------------------------------------------------------------
# Kaplan-Meier survival (time to first conversion, right-censored)
# --------------------------------------------------------------------------
@register(
    "q_survival_km",
    driver=False,  # §2.5 survival-analysis extension (sequential) — pytest oracle
    oracle="""
WITH RECURSIVE u AS (
  SELECT user_id,
         min(ts) AS t0,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS conv_ts,
         max(ts) AS last_ts
  FROM events GROUP BY user_id
), dur AS (
  SELECT user_id,
         CASE WHEN conv_ts IS NOT NULL
              THEN date_diff('day', CAST(t0 AS DATE), CAST(conv_ts AS DATE))
              ELSE date_diff('day', CAST(t0 AS DATE), CAST(last_ts AS DATE))
         END AS t,
         CASE WHEN conv_ts IS NOT NULL THEN 1 ELSE 0 END AS death
  FROM u
), tt AS (
  SELECT t, CAST(sum(death) AS BIGINT) AS d,
         CAST(sum(1 - death) AS BIGINT) AS c
  FROM dur GROUP BY t
), o AS MATERIALIZED (
  -- MATERIALIZED: inlined, DuckDB re-evaluates this CTE every recursion
  -- round (the q_cycle_nodes sf1 hang class); the hint pins one evaluation
  SELECT t, d, c,
         CAST(sum(d + c) OVER (ORDER BY t
              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
           AS n_at_risk,
         row_number() OVER (ORDER BY t) AS rn
  FROM tt
), r AS (
  SELECT t, d, c, n_at_risk, rn,
         1.0 - CAST(d AS DOUBLE) / n_at_risk AS s
  FROM o WHERE rn = 1
  UNION ALL
  SELECT o.t, o.d, o.c, o.n_at_risk, o.rn,
         r.s * (1.0 - CAST(o.d AS DOUBLE) / o.n_at_risk)
  FROM r JOIN o ON o.rn = r.rn + 1
)
SELECT t AS t_days, n_at_risk, d AS d_events, c AS c_censored,
       round(s, 6) AS survival
FROM r
""",
)
def q_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimate for time-to-first-conversion with
    right censoring — the churn/conversion-latency curve: each user
    contributes a duration (first event → first purchase, else → last
    event, censored), and S(t) = Π_{u ≤ t} (1 − d_u/n_u) over the ordered
    distinct durations. The risk-set table (d, c, n-at-risk) is pure
    integer arithmetic; the survival product runs the SAME sequential
    order in both engines (recursive CTE vs grouped-map loop), and each
    factor is one IEEE divide — so the raw product is bit-identical with
    NO intermediate rounding (per-step Python round() would be banker's
    vs DuckDB's half-away — the r3 gotcha); outputs round at 6 dp.

    Scale: one user-keyed agg collapses events to |users| durations; the
    risk-set rollup is |distinct durations| rows (days — metadata-sized),
    and only THAT tiny series enters the sequential grouped-map. At
    100 TB nothing changes: the recurrence input is bounded by the
    observation window, not the event volume."""
    import pandas as pd
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.min("ts").alias("t0"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "conv_ts"
        ),
        F.max("ts").alias("last_ts"),
    )
    dur = u.select(
        F.when(
            F.col("conv_ts").isNotNull(),
            F.datediff(F.to_date("conv_ts"), F.to_date("t0")),
        )
        .otherwise(F.datediff(F.to_date("last_ts"), F.to_date("t0")))
        .alias("t"),
        F.when(F.col("conv_ts").isNotNull(), 1).otherwise(0).alias("death"),
    )
    tt = dur.groupBy("t").agg(
        F.sum("death").alias("d"), F.sum(1 - F.col("death")).alias("c")
    )
    w = Window.orderBy("t").rowsBetween(0, Window.unboundedFollowing)
    o = tt.withColumn("n_at_risk", F.sum(F.col("d") + F.col("c")).over(w))

    def km(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("t", kind="mergesort")
        s = 1.0
        rows = []
        for t, d, c, n in zip(pdf["t"], pdf["d"], pdf["c"], pdf["n_at_risk"]):
            s = s * (1.0 - float(d) / float(n))
            rows.append((int(t), int(n), int(d), int(c), s))
        return pd.DataFrame(
            rows, columns=["t_days", "n_at_risk", "d_events", "c_censored", "s"]
        )

    out = o.withColumn("g", F.lit(1)).groupBy("g").applyInPandas(
        km,
        schema="t_days long, n_at_risk long, d_events long, c_censored long, "
        "s double",
    )
    return out.select(
        "t_days",
        "n_at_risk",
        "d_events",
        "c_censored",
        F.round("s", 6).alias("survival"),
    )


# --------------------------------------------------------------------------
# Label-propagation communities (synchronous, deterministic tie-break)
# --------------------------------------------------------------------------
_LPA_ROUNDS = 3


def _lpa_oracle(rounds: int = _LPA_ROUNDS) -> str:
    """Synchronous LPA unrolled: each round every node adopts the most
    frequent label among its neighbors (ties → smallest label), integer
    arithmetic only — deterministic, so the oracle replays it exactly."""
    head = """
WITH e0 AS MATERIALIZED (
  SELECT a.item AS u, c.item AS v, count(*) AS n_ab
  FROM (SELECT DISTINCT l_orderkey AS oid, p_brand AS item
        FROM lineitem JOIN part ON l_partkey = p_partkey) a
  JOIN (SELECT DISTINCT l_orderkey AS oid, p_brand AS item
        FROM lineitem JOIN part ON l_partkey = p_partkey) c
    ON a.oid = c.oid AND a.item < c.item
  GROUP BY 1, 2 HAVING count(*) >= 80
), und AS MATERIALIZED (
  SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0
), l0 AS MATERIALIZED (
  SELECT DISTINCT u AS node, u AS label FROM und
)"""
    rounds_sql = "".join(
        f""", c{i} AS MATERIALIZED (
  SELECT und.u AS node, l.label, CAST(count(*) AS BIGINT) AS cnt
  FROM und JOIN l{i - 1} l ON l.node = und.v
  GROUP BY 1, 2
), l{i} AS MATERIALIZED (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node
                              ORDER BY cnt DESC, label) AS rn
    FROM c{i}
  ) WHERE rn = 1
)"""
        for i in range(1, rounds + 1)
    )
    tail = f"""
SELECT l.node, l.label AS community, s.n_members
FROM l{rounds} l
JOIN (SELECT label, CAST(count(*) AS BIGINT) AS n_members
      FROM l{rounds} GROUP BY 1) s ON s.label = l.label
ORDER BY l.node LIMIT 20"""
    return head + rounds_sql + tail


@register(
    "q_communities_lpa",
    driver=True,  # §2.9 graph-community extension — rotated in r11 (wave 6)
    oracle=_lpa_oracle(),
)
def q_communities_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation over the brand
    co-purchase graph — the density-based complement to connected
    components (q_dedup_clusters finds anything linked; LPA finds groups
    that are INTERNALLY denser than their surroundings): every node starts
    as its own label and, for 3 synchronous rounds, adopts the most
    frequent label among its neighbors with ties broken toward the
    smallest label. Pure integer counting + a deterministic tie-break, so
    the oracle replays the exact rounds (unrolled MATERIALIZED CTEs).

    Scale: each round is one join of the edge list against the O(nodes)
    label table + a (node, label)-keyed count + a WindowGroupLimit-shaped
    argmax — the label table, not the graph, is the per-round state.
    Synchronous rounds are the deterministic choice (async LPA is
    order-dependent); bounded rounds keep the plan finite, exactly like
    q_pagerank / bounded BFS. Edges localCheckpoint once (shared-subtree
    discipline).

    r11 (rotation wave 6): the result is the first 20 nodes by node id
    with their FINAL label and community size — a multi-row, per-node
    external grade (the old single-community census collapsed to 1 row at
    sf0.01, a vacuous-adjacent grade per the r9 lesson); pinning concrete
    per-node assignments is strictly stronger than the aggregate it
    replaced."""
    # r12 (VERDICT r11 #1): the synchronous-rounds loop moved to
    # operators/graph.lpa_labels — metadata-sized graphs (one bounded edge
    # fetch decides; brand ids dictionary-encode to sorted indices, so the
    # smallest-label tie-break is argmax's first-max-wins) run all rounds
    # on the driver instead of 3 scheduler waves of join + count +
    # window-argmax + checkpoint each; the distributed loop is unchanged
    # past the threshold (tests/test_graph_kernels.py).
    from ..operators.graph import lpa_labels

    edges = _brand_edges(spark, sf_dir)
    labels = lpa_labels(edges, src="u", dst="v", rounds=_LPA_ROUNDS)
    sizes = labels.groupBy("label").agg(F.count("*").alias("n_members"))
    return (
        labels.join(sizes, "label")
        .select("node", F.col("label").alias("community"), "n_members")
        .orderBy("node")
        .limit(20)
    )


# --------------------------------------------------------------------------
# RFM customer segmentation (recency / frequency / monetary quintiles)
# --------------------------------------------------------------------------
@register(
    "q_rfm_segments",
    driver=False,  # §2.5 retail-segmentation extension — pytest oracle
    oracle="""
WITH rfm AS (
  SELECT o_custkey,
         max(o_orderdate) AS last_order,
         CAST(count(*) AS BIGINT) AS frequency,
         round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
           AS monetary
  FROM orders GROUP BY o_custkey
), scored AS (
  SELECT o_custkey, frequency, monetary,
         ntile(5) OVER (ORDER BY last_order, o_custkey)  AS r_score,
         ntile(5) OVER (ORDER BY frequency, o_custkey)   AS f_score,
         ntile(5) OVER (ORDER BY monetary, o_custkey)    AS m_score
  FROM rfm
)
SELECT r_score, f_score, m_score,
       CAST(count(*) AS BIGINT) AS n_customers,
       round(CAST(sum(CAST(monetary AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS segment_revenue
FROM scored GROUP BY 1, 2, 3
""",
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic retail customer taxonomy: quintile
    scores for Recency (latest order date), Frequency (order count), and
    Monetary (DECIMAL-exact revenue), rolled up to segment sizes and
    revenue. Every ntile runs over a (metric, custkey) TOTAL order, so
    quintile boundaries are engine-identical even at metric ties (the
    q_calibration binning discipline).

    Scale: one custkey rollup over orders, then three rank passes over the
    |customers| table — at 100 TB replace exact ntiles with broadcast
    quantile cutpoints (q_quantile_histogram_rollup's sketch) to avoid
    the total orders; the rollup output is ≤ 125 segment rows."""
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    rfm = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("frequency"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"),
            2,
        ).alias("monetary"),
    )
    scored = rfm.select(
        "frequency",
        "monetary",
        F.ntile(5).over(Window.orderBy("last_order", "o_custkey")).alias(
            "r_score"
        ),
        F.ntile(5).over(Window.orderBy("frequency", "o_custkey")).alias(
            "f_score"
        ),
        F.ntile(5).over(Window.orderBy("monetary", "o_custkey")).alias(
            "m_score"
        ),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count("*").alias("n_customers"),
        F.round(
            F.sum(F.col("monetary").cast("decimal(18,2)")).cast("double"), 2
        ).alias("segment_revenue"),
    )


# --------------------------------------------------------------------------
# Cohort LTV curve (cumulative revenue by cohort age)
# --------------------------------------------------------------------------
@register(
    "q_cohort_ltv",
    driver=False,  # §2.5 lifetime-value extension — pytest oracle
    oracle="""
WITH first_seen AS (
  SELECT user_id,
         CAST(min(year(ts) * 12 + month(ts)) AS BIGINT) AS cohort_m
  FROM events GROUP BY user_id
), rev AS (
  SELECT f.cohort_m,
         CAST(year(e.ts) * 12 + month(e.ts) AS BIGINT) - f.cohort_m AS age,
         e.user_id,
         CAST(CASE WHEN e.event_type = 'purchase' AND e.value IS NOT NULL
                   THEN CAST(e.value AS DECIMAL(18,6))
                   ELSE CAST(0.0 AS DECIMAL(18,6)) END AS DECIMAL(18,6))
           AS r
  FROM events e JOIN first_seen f ON f.user_id = e.user_id
), ca AS (
  SELECT cohort_m, age,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_active,
         CAST(sum(r) AS DECIMAL(28,6)) AS rev
  FROM rev GROUP BY 1, 2
)
SELECT cohort_m, age, n_active,
       round(CAST(rev AS DOUBLE), 6) AS revenue,
       round(CAST(sum(rev) OVER (PARTITION BY cohort_m ORDER BY age
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 6)
         AS cum_revenue
FROM ca
""",
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves — the revenue companion to
    q_cohort_retention: users bucket by first-seen month (integer
    year·12+month arithmetic, no engine-dependent months_between), and
    each cohort accumulates purchase revenue by cohort age. The cumulative
    sum runs over DECIMAL partials inside the window (exact), converting
    to double only at output.

    Scale: one user-keyed min to build cohorts, one broadcast-or-shuffled
    enrich join, then a (cohort, age) rollup — the curve table is
    |cohorts|×|ages| rows, and the running sum rides a per-cohort window
    over that metadata-sized table."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    mkey = (F.year("ts") * 12 + F.month("ts")).cast("long")
    first_seen = e.groupBy("user_id").agg(F.min(mkey).alias("cohort_m"))
    zero = F.lit(0.0).cast("decimal(18,6)")
    rev = e.join(first_seen, "user_id").select(
        "cohort_m",
        (mkey - F.col("cohort_m")).alias("age"),
        "user_id",
        F.when(
            (F.col("event_type") == "purchase") & F.col("value").isNotNull(),
            F.col("value").cast("decimal(18,6)"),
        )
        .otherwise(zero)
        .alias("r"),
    )
    ca = rev.groupBy("cohort_m", "age").agg(
        F.countDistinct("user_id").alias("n_active"),
        F.sum("r").cast("decimal(28,6)").alias("rev"),
    )
    w = Window.partitionBy("cohort_m").orderBy("age").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return ca.select(
        "cohort_m",
        "age",
        "n_active",
        F.round(F.col("rev").cast("double"), 6).alias("revenue"),
        F.round(F.sum("rev").over(w).cast("double"), 6).alias("cum_revenue"),
    )


# --------------------------------------------------------------------------
# Fulfillment-latency SLA by order priority
# --------------------------------------------------------------------------
@register(
    "q_fulfillment_sla",
    driver=False,  # §2.5 operational-SLA extension — pytest oracle
    oracle="""
WITH lat AS (
  SELECT o.o_orderpriority,
         CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                        CAST(max(l.l_shipdate) AS DATE)) AS BIGINT)
           AS days_to_ship
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(CAST(quantile_cont(days_to_ship, 0.5) AS DOUBLE), 1) AS p50_days,
       round(CAST(quantile_cont(days_to_ship, 0.9) AS DOUBLE), 1) AS p90_days,
       CAST(max(days_to_ship) AS BIGINT) AS max_days,
       CAST(sum(CASE WHEN days_to_ship > 90 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_breaching
FROM lat GROUP BY o_orderpriority
""",
)
def q_fulfillment_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfillment-latency SLA report — the operational counterpart to
    TPC-H Q4 (expressible here without l_commitdate): per priority class,
    the distribution of days from order placement to the LAST line
    shipment (exact integer day diffs), p50/p90, the worst case, and the
    count breaching a 90-day SLA. Integer inputs make the percentile
    interpolation engine-identical at 1 dp.

    Scale: the per-order latency is a rollup riding the o⋈l orderkey
    join's own shuffle; the SLA report is |priorities| rows. At extreme
    scale the percentiles swap to the histogram sketch over integer
    day buckets (exact, since latencies ARE integers)."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    lat = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.max("l_shipdate").alias("last_ship"))
        .select(
            "o_orderpriority",
            F.datediff(F.to_date("last_ship"), F.to_date("o_orderdate"))
            .cast("long")
            .alias("days_to_ship"),
        )
    )
    return lat.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.round(F.percentile("days_to_ship", F.lit(0.5)).cast("double"), 1)
        .alias("p50_days"),
        F.round(F.percentile("days_to_ship", F.lit(0.9)).cast("double"), 1)
        .alias("p90_days"),
        F.max("days_to_ship").alias("max_days"),
        F.sum((F.col("days_to_ship") > 90).cast("long")).alias("n_breaching"),
    )


@register(
    "q_link_prediction",
    driver=False,  # §2.9 graph extension — pytest oracle
    oracle="""
WITH baskets AS (
  SELECT DISTINCT l_orderkey AS oid, l_partkey AS item FROM lineitem
), edges AS (
  SELECT a.item AS u, c.item AS v
  FROM baskets a JOIN baskets c ON a.oid = c.oid AND a.item < c.item
  GROUP BY 1, 2 HAVING count(*) >= 2
), sym AS (
  SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges
), deg AS (
  SELECT u AS node, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY 1
), wedges AS (
  SELECT e1.v AS a, e2.v AS b, e1.u AS z
  FROM sym e1 JOIN sym e2 ON e1.u = e2.u AND e1.v < e2.v
), cand AS (
  SELECT w.a, w.b,
         CAST(count(*) AS BIGINT)             AS common_neighbors,
         CAST(sum(1000000000 // d.deg) AS BIGINT) AS ra_index_e9
  FROM wedges w JOIN deg d ON d.node = w.z
  GROUP BY 1, 2
)
SELECT c.a AS u, c.b AS v, c.common_neighbors, c.ra_index_e9
FROM cand c
WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.u = c.a AND e.v = c.b)
QUALIFY row_number() OVER (PARTITION BY c.a
          ORDER BY ra_index_e9 DESC, common_neighbors DESC, c.b) <= 10
""",
)
def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the PART-level co-purchase graph (edge = parts
    sharing ≥ 2 orders — the brand graph is complete at every threshold,
    so prediction is vacuous there): for every NON-adjacent node pair
    sharing at least one neighbor, the common-neighbor count and the
    resource-allocation index Σ 1/deg(z) over shared neighbors z — the
    log-free classic next to Adamic-Adar (whose ln(deg) is not
    correctly-rounded identically across engines). The RA term is
    integer-scaled (floor(1e9/deg) per neighbor, summed as BIGINT) so the
    score is exact, order-independent, and engine-identical. Fourth
    member of the graph family (q_pagerank / q_clustering_coeff /
    q_communities_lpa).

    Scale: wedges enumerate per CENTER node (e1.u = e2.u) — the join key
    is the shared neighbor, so fan-out is Σ deg², the same bound as the
    triangle census, and hot centers salt the same way. Degrees are a
    |V|-row table joined on the wedge center (broadcast while |V| is
    dimension-sized; key-partitioned beyond). The adjacency exclusion is
    an anti join against the thresholded edge table. No all-pairs
    product ever materializes: only wedge-connected pairs exist.

    The output is capped at the TOP-10 candidates per node (ra desc, cn
    desc, v asc — an all-integer total order): a denser graph grows the
    candidate set ~quadratically in neighborhood density (the uncapped
    form returned >1 GiB at the sf1 replica), and no consumer of link
    prediction wants the full candidate matrix — O(|V|·k) is the shape
    that survives 100 TB. Spark plans it as WindowGroupLimit (top-k
    pushed below the final shuffle)."""
    b = (
        table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("oid"), F.col("l_partkey").alias("item"))
        .distinct()
    )
    u = b.select("oid", F.col("item").alias("u"))
    v = b.select("oid", F.col("item").alias("v"))
    edges = (
        u.join(v, "oid")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= 2)
        .select("u", "v")
        .transform(checkpoint)
    )
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = sym.groupBy(F.col("u").alias("node")).agg(F.count("*").alias("deg"))
    e1 = sym.select(F.col("u").alias("z"), F.col("v").alias("a"))
    e2 = sym.select(F.col("u").alias("z"), F.col("v").alias("b"))
    wedges = e1.join(e2, "z").filter(F.col("a") < F.col("b"))
    cand = (
        wedges.join(F.broadcast(deg), wedges.z == deg.node)
        .groupBy("a", "b")
        .agg(
            F.count("*").alias("common_neighbors"),
            F.sum(F.floor(F.lit(1000000000) / F.col("deg"))).alias("ra_index_e9"),
        )
    )
    nonadj = cand.join(
        F.broadcast(edges),
        (cand.a == edges.u) & (cand.b == edges.v),
        "left_anti",
    )
    w = Window.partitionBy("a").orderBy(
        F.col("ra_index_e9").desc(), F.col("common_neighbors").desc(), F.col("b")
    )
    return (
        nonadj.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select(
            F.col("a").alias("u"),
            F.col("b").alias("v"),
            "common_neighbors",
            "ra_index_e9",
        )
    )


# --------------------------------------------------------------------------
# Exact distinct-day bitmaps (round 4)
# --------------------------------------------------------------------------
@register(
    "q_activity_bitmap",
    driver=False,  # §2.3 mergeable-exact-distinct extension (round 4) — pytest oracle
    oracle="""
WITH ub AS (
  SELECT event_type, user_id,
         bit_or(CAST(1 AS BIGINT) << CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INTEGER)) AS bm
  FROM events
  WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-01' AND DATE '2024-03-01'
  GROUP BY 1, 2
)
SELECT event_type,
       CAST(count(*) AS BIGINT)                 AS n_users,
       CAST(sum(bit_count(bm)) AS BIGINT)       AS user_days,
       CAST(max(bit_count(bm)) AS BIGINT)       AS max_days,
       CAST(sum(CASE WHEN bit_count(bm) >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS regulars,
       CAST(bit_count(bit_or(bm)) AS BIGINT)    AS covered_days
FROM ub
GROUP BY event_type
""",
)
def q_activity_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-user activity-day BITMAPS (SURVEY §2.3 extension): one
    BIGINT per (event_type, user) with bit d set iff the user acted on day
    d — the roaring-bitmap idea at its word-sized core. bit_or is the
    MERGEABLE exact-distinct union (unlike HLL there is zero error), and
    popcount answers distinct-days / regularity / coverage without ever
    re-touching events. The fixture spans 30 days (bits 0..29), but the
    date fence 2024-01-01..2024-03-01 admits day indexes up to 60 — still
    inside a signed BIGINT's 63-bit ceiling, which is the real invariant:
    any fence widening must keep datediff(end, start) <= 62, else the shift
    silently overflows bit 63 in both engines.

    Scale: one shuffle to (event_type, user) with bit_or partial
    aggregation map-side; the second agg runs on one row per user. For
    multi-year spans the bitmap becomes array<bigint> word-chunks (same
    bit_or/bit_count algebra per chunk) — the standard segmented-bitmap
    layout analytics stores use."""
    e = table(spark, sf_dir, "events").filter(
        F.to_date("ts").between("2024-01-01", "2024-03-01")
    )
    day = F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")).cast("int")
    ub = (
        e.select("event_type", "user_id", day.alias("day"))
        .groupBy("event_type", "user_id")
        .agg(F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), day)")).alias("bm"))
    )
    pc = F.bit_count("bm")
    return ub.groupBy("event_type").agg(
        F.count("*").alias("n_users"),
        F.sum(pc).cast("long").alias("user_days"),
        F.max(pc).cast("long").alias("max_days"),
        F.sum(F.when(pc >= 5, 1).otherwise(0)).alias("regulars"),
        F.bit_count(F.bit_or("bm")).cast("long").alias("covered_days"),
    )


# --------------------------------------------------------------------------
# k-core decomposition (bounded peel)
# --------------------------------------------------------------------------
@register(
    "q_kcore",
    driver=False,  # §2.11 graph family (round 4) — pytest oracle
    oracle=f"""
WITH e0 AS MATERIALIZED (
  -- MATERIALIZED: the unrolled peel rounds read the join ~7x (exponentially
  -- through s1/s2); inlined, the sf0.1 sweep passed 100 GB on a 600-edge graph
{_TRADE_EDGES_SQL.format(min_count=120)}
), e AS MATERIALIZED (
  SELECT src AS u, dst AS v FROM e0
  UNION
  SELECT dst, src FROM e0
), d1 AS (
  SELECT u, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY u
), s1 AS (SELECT u FROM d1 WHERE deg >= 3),
d2 AS (
  SELECT e.u, CAST(count(*) AS BIGINT) AS deg
  FROM e
  JOIN s1 a ON e.u = a.u
  JOIN s1 b ON e.v = b.u
  GROUP BY e.u
), s2 AS (SELECT u FROM d2 WHERE deg >= 3),
d3 AS (
  SELECT e.u, CAST(count(*) AS BIGINT) AS deg
  FROM e
  JOIN s2 a ON e.u = a.u
  JOIN s2 b ON e.v = b.u
  GROUP BY e.u
)
SELECT u AS node, deg AS core_degree
FROM d3 WHERE deg >= 3
""",
)
def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the supplier→customer nation graph by iterative peeling
    (SURVEY §2.11 graph tier): drop nodes of degree < k, recompute degrees
    on the induced subgraph, repeat. Three peel rounds are unrolled — the
    fixture graph reaches its fixpoint in two (pinned in pytest by a
    fourth-round no-op check), and the oracle unrolls the identical
    rounds, so this is exact, not approximate.

    Scale: each round is one degree groupBy + two semi-join filters
    against the survivor set — the |nations|-sized node table is
    broadcast; the edge list never rebuilds. For deep peel chains (k-core
    on power-law webs) rounds grow O(diameter); the standard fix is the
    same pointer-jumping trick as connected components, or switch to the
    O(E) exact peel on a single machine once survivors fit."""
    e0 = _trade_edges(spark, sf_dir, 120)
    # r12 (VERDICT r11 #1): the peel loop moved to operators/graph.
    # kcore_census — the q_pagerank/q_dag_layers kernel pattern: a
    # metadata-sized graph (one bounded edge fetch decides) peels all
    # rounds on the driver instead of 3 scheduler waves of
    # semi-joins + degree groupBys; the distributed loop is unchanged past
    # the threshold and both paths are integer-identical by construction
    # (tests/test_graph_kernels.py).
    from ..operators.graph import kcore_census

    return kcore_census(e0, src="src", dst="dst", k=3, rounds=3)


_SPATIAL_SQL_PTS = """
WITH pts AS (
  SELECT user_id,
         (CAST('0x' || substr(md5('lat|' || CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT)
            / 1152921504606846976.0) * 120.0 - 60.0 AS lat,
         (CAST('0x' || substr(md5('lon|' || CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT)
            / 1152921504606846976.0) * 340.0 - 170.0 AS lon
  FROM (SELECT DISTINCT user_id FROM events)
), pois AS (
  SELECT n_nationkey AS poi_id,
         (CAST('0x' || substr(md5('plat|' || CAST(n_nationkey AS VARCHAR)), 1, 15) AS BIGINT)
            / 1152921504606846976.0) * 120.0 - 60.0 AS plat,
         (CAST('0x' || substr(md5('plon|' || CAST(n_nationkey AS VARCHAR)), 1, 15) AS BIGINT)
            / 1152921504606846976.0) * 340.0 - 170.0 AS plon
  FROM nation
)
"""


def _spatial_scale():
    return F.lit(1152921504606846976.0)


def _spatial_pts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, lat, lon) — md5-derived point set shared by the whole
    spatial family; the ONE Spark twin of _SPATIAL_SQL_PTS's pts CTE
    (round-5 review #7: cell size / scale / band edits happen here and in
    the constant, nowhere else)."""
    from .experiments import _md5_int

    e = table(spark, sf_dir, "events").select("user_id").distinct()
    lat = (_md5_int(F.concat(F.lit("lat|"), F.col("user_id").cast("string"))) / _spatial_scale()) * 120.0 - 60.0
    lon = (_md5_int(F.concat(F.lit("lon|"), F.col("user_id").cast("string"))) / _spatial_scale()) * 340.0 - 170.0
    return e.select("user_id", lat.alias("lat"), lon.alias("lon"))


def _spatial_pts_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _spatial_pts(spark, sf_dir)
        .withColumn("cy", F.floor(F.col("lat") / 5.0))
        .withColumn("cx", F.floor(F.col("lon") / 5.0))
    )


def _spatial_pois(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(poi_id, plat, plon) — the Spark twin of _SPATIAL_SQL_PTS's pois CTE."""
    from .experiments import _md5_int

    n = table(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("poi_id"))
    plat = (_md5_int(F.concat(F.lit("plat|"), F.col("poi_id").cast("string"))) / _spatial_scale()) * 120.0 - 60.0
    plon = (_md5_int(F.concat(F.lit("plon|"), F.col("poi_id").cast("string"))) / _spatial_scale()) * 340.0 - 170.0
    return n.select("poi_id", plat.alias("plat"), plon.alias("plon"))


def _poi_cells(pois: DataFrame) -> DataFrame:
    """POIs replicated into their 3×3 neighbor 5° cells — the grid
    candidate side both spatial joins share."""
    off = F.array(F.lit(-1).cast("long"), F.lit(0).cast("long"), F.lit(1).cast("long"))
    return (
        pois.select("poi_id", "plat", "plon", F.explode(off).alias("dy"))
        .select("poi_id", "plat", "plon", "dy", F.explode(off).alias("dx"))
        .select(
            "poi_id",
            "plat",
            "plon",
            (F.col("dy") + F.floor(F.col("plat") / 5.0)).alias("cy"),
            (F.col("dx") + F.floor(F.col("plon") / 5.0)).alias("cx"),
        )
    )


def _poi_cell_arrays(pois: DataFrame) -> DataFrame:
    """One row per 5° cell with the cell's POI replicas as an ARRAY of
    (poi_id, plat, plon) structs — the fold-per-row candidate side (r12,
    VERDICT r11 #3, the q_point_in_polygon pattern): a point joins its ONE
    cell row and resolves nearest/kNN with an in-row array fold, so the
    per-point row_number window — an exchange of the whole candidate set
    keyed by user_id with zero map-side reduction — disappears from every
    consumer's plan. Each POI appears at most once per cell (its 9 replica
    cells are distinct), so the per-point candidate multiset is EXACTLY the
    old join fan-out."""
    return _poi_cells(pois).groupBy("cy", "cx").agg(
        F.collect_list(F.struct("poi_id", "plat", "plon")).alias("pois")
    )


# --------------------------------------------------------------------------
# Grid-bucketed spatial join (round 4)
# --------------------------------------------------------------------------
@register(
    "q_spatial_grid_join",
    # driver r6–r9 (4 green rounds); rotated off r10 (VERDICT r9 #2, wave 5)
    # — join coverage stays wide (equi/bucketed/range-binned/as-of + the
    # new streaming interval join)
    driver=False,
    oracle=_SPATIAL_SQL_PTS
    + """
, pc AS (
  SELECT p.*, dx.v + CAST(floor(plat / 5.0) AS BIGINT) AS cy,
         dy.v + CAST(floor(plon / 5.0) AS BIGINT) AS cx
  FROM pois p,
       (VALUES (-1), (0), (1)) dx(v),
       (VALUES (-1), (0), (1)) dy(v)
), cand AS (
  SELECT t.user_id, t.lat, t.lon, p.poi_id, p.plat, p.plon
  FROM (SELECT user_id, lat, lon,
               CAST(floor(lat / 5.0) AS BIGINT) AS cy,
               CAST(floor(lon / 5.0) AS BIGINT) AS cx
        FROM pts) t
  JOIN pc p ON p.cy = t.cy AND p.cx = t.cx
), scored AS (
  SELECT user_id, poi_id,
         (lat - plat) * (lat - plat) + (lon - plon) * (lon - plon) AS d2,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY (lat - plat) * (lat - plat)
                                     + (lon - plon) * (lon - plon), poi_id) AS rn
  FROM cand
  WHERE (lat - plat) * (lat - plat) + (lon - plon) * (lon - plon) <= 25.0
)
SELECT user_id, poi_id, round(sqrt(d2), 6) AS dist_deg
FROM scored WHERE rn = 1
""",
)
def q_spatial_grid_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-bucketed spatial nearest-neighbor join (the distributed
    spatial-join shape Sedona/BigQuery GIS use): points bucket into
    5°×5° cells; each POI replicates into its 3×3 neighbor cells
    (radius 5° ≤ cell size ⇒ lossless coverage); candidates join on the
    cell key; exact distance refines; per-point nearest wins by
    (distance, poi_id). Coordinates are md5-derived from stable ids so the
    whole pipeline — including the geometry — is oracle-replayable.

    Scale: the cell join is an equi-join (hash-partitionable, no
    theta-join explosion); POI×9 replication is the broadcast side.
    Cell size tunes the candidate fan-out exactly like LSH bucket width;
    for true geodesics swap the refine expression for haversine — the
    plan shape is unchanged."""
    pts = _spatial_pts_cells(spark, sf_dir)
    pc = _poi_cell_arrays(_spatial_pois(spark, sf_dir))
    # size-GATED broadcast (VERDICT r4 #3): POIs×9 is nation-sized here, but
    # a real POI corpus (millions) hinted unconditionally would OOM the
    # driver — above the gate the cell-key equi-join falls back to AQE.
    # r12 (VERDICT r11 #3, the q_point_in_polygon fold): one row per
    # (point, cell-array); the nearest POI is array_min over (d2, poi_id)
    # structs — struct ordering IS the old (d2 ASC, poi_id ASC) row_number
    # order, the d2 expression is the identical double arithmetic, and the
    # per-point window exchange is gone from the plan.
    cand = pts.join(broadcast_if_small(pc), ["cy", "cx"])
    scored = F.filter(
        F.transform(
            F.col("pois"),
            lambda e: F.struct(
                (
                    (F.col("lat") - e["plat"]) * (F.col("lat") - e["plat"])
                    + (F.col("lon") - e["plon"]) * (F.col("lon") - e["plon"])
                ).alias("d2"),
                e["poi_id"].alias("poi_id"),
            ),
        ),
        lambda s: s["d2"] <= 25.0,
    )
    best = F.array_min(scored)
    return (
        cand.select("user_id", best.alias("best"))
        .filter(F.col("best").isNotNull())
        .select(
            "user_id",
            F.col("best.poi_id").alias("poi_id"),
            F.round(F.sqrt(F.col("best.d2")), 6).alias("dist_deg"),
        )
    )


@register(
    "q_funnel_unordered",
    driver=False,  # §2.11 funnel-family completion (round 4) — pytest oracle
    oracle="""
WITH firsts AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN CAST(epoch_us(ts) AS BIGINT) END)     AS v_us,
         min(CASE WHEN event_type = 'click' THEN CAST(epoch_us(ts) AS BIGINT) END)    AS c_us,
         min(CASE WHEN event_type = 'purchase' THEN CAST(epoch_us(ts) AS BIGINT) END) AS p_us
  FROM events GROUP BY user_id
), spans AS (
  SELECT user_id,
         CASE WHEN v_us IS NOT NULL AND c_us IS NOT NULL AND p_us IS NOT NULL
              THEN greatest(v_us, c_us, p_us) - least(v_us, c_us, p_us) END AS span_us
  FROM firsts
)
SELECT CAST(count(*) AS BIGINT)                                   AS n_users,
       CAST(count(span_us) AS BIGINT)                             AS n_all_three,
       CAST(sum(CASE WHEN span_us <= 7 * 86400000000 THEN 1 ELSE 0 END) AS BIGINT)
                                                                  AS n_within_7d,
       CAST(min(span_us) AS BIGINT)                               AS min_span_us,
       CAST(max(span_us) AS BIGINT)                               AS max_span_us
FROM spans
""",
)
def q_funnel_unordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNORDERED funnel (set completion): users whose first view, first
    click, and first purchase all exist, and how tightly they cluster —
    completion within 7 days uses the span between the earliest and
    latest of the three firsts, order-free. The complement to the
    strictly-ordered q_funnel: engagement breadth rather than a
    prescribed path. All arithmetic is exact integer µs.

    Scale: one conditional-min groupBy on user_id (partial aggs
    map-side), then a metadata-sized census — the cheapest funnel shape
    there is."""
    e = table(spark, sf_dir, "events")
    t_us = F.unix_micros("ts")

    def first_of(t):
        return F.min(F.when(F.col("event_type") == t, t_us))

    firsts = e.groupBy("user_id").agg(
        first_of("view").alias("v_us"),
        first_of("click").alias("c_us"),
        first_of("purchase").alias("p_us"),
    )
    span = F.when(
        F.col("v_us").isNotNull()
        & F.col("c_us").isNotNull()
        & F.col("p_us").isNotNull(),
        F.greatest("v_us", "c_us", "p_us") - F.least("v_us", "c_us", "p_us"),
    )
    spans = firsts.select("user_id", span.alias("span_us"))
    return spans.agg(
        F.count("*").alias("n_users"),
        F.count("span_us").alias("n_all_three"),
        F.sum(F.when(F.col("span_us") <= 7 * 86400000000, 1).otherwise(0)).alias(
            "n_within_7d"
        ),
        F.min("span_us").alias("min_span_us"),
        F.max("span_us").alias("max_span_us"),
    )


@register(
    "q_attribution_decay",
    driver=False,  # §2.11 attribution-family completion (round 4) — pytest oracle
    oracle="""
WITH conv AS (
  SELECT event_id AS conv_id, user_id, CAST(epoch_us(ts) AS BIGINT) AS p_us
  FROM events WHERE event_type = 'purchase'
), touch AS (
  SELECT c.conv_id, e.event_type AS channel,
         CAST(power(2.0, -CAST((c.p_us - CAST(epoch_us(e.ts) AS BIGINT))
                               // 86400000000 AS BIGINT)) AS DOUBLE) AS w
  FROM conv c
  JOIN events e
    ON e.user_id = c.user_id
   AND e.event_type IN ('view', 'click')
   AND CAST(epoch_us(e.ts) AS BIGINT) <= c.p_us
   AND c.p_us - CAST(epoch_us(e.ts) AS BIGINT) <= 14 * 86400000000
), norm AS (
  SELECT conv_id, channel, w,
         sum(w) OVER (PARTITION BY conv_id) AS tot
  FROM touch
)
SELECT channel,
       CAST(count(DISTINCT conv_id) AS BIGINT) AS n_conversions,
       round(sum(w / tot), 6)                  AS credit
FROM norm
GROUP BY channel
""",
)
def q_attribution_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-DECAY multi-touch attribution (half-life 1 day), completing
    the family next to last-touch (q_attribution) and Markov removal
    effect (q_markov_attribution): each view/click in the 14 days before
    a purchase earns weight 2^(−age_days), normalized per conversion.
    The decay base is 2 and ages are exact integer days, so every weight
    is an exact power of two — dyadic sums make the per-conversion
    normalization engine-exact, with one 6-dp round on the final credit.

    Scale: the touch join is user-keyed with a 14-day bound — at 100 TB
    bucket both sides by (user, day-window) so candidates stay local
    (same shape as the interval join); weights/normalization are window
    work on the touch table."""
    e = table(spark, sf_dir, "events")
    t_us = F.unix_micros("ts")
    conv = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"),
        F.col("user_id").alias("c_user"),
        t_us.alias("p_us"),
    )
    touches = e.filter(F.col("event_type").isin("view", "click")).select(
        "user_id", F.col("event_type").alias("channel"), t_us.alias("e_us")
    )
    joined = conv.join(
        touches,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("e_us") <= F.col("p_us"))
        & (F.col("p_us") - F.col("e_us") <= 14 * 86400000000),
    ).select(
        "conv_id",
        "channel",
        # integer `div` (not double /) so the day floor is exact in both engines
        F.pow(
            F.lit(2.0), -F.expr("(p_us - e_us) div 86400000000").cast("double")
        ).alias("w"),
    )
    from pyspark.sql import Window

    norm = joined.withColumn("tot", F.sum("w").over(Window.partitionBy("conv_id")))
    return norm.groupBy("channel").agg(
        F.countDistinct("conv_id").alias("n_conversions"),
        F.round(F.sum(F.col("w") / F.col("tot")), 6).alias("credit"),
    )


# --------------------------------------------------------------------------
# HITS hubs & authorities (exact integer power iteration)
# --------------------------------------------------------------------------
@register(
    "q_hits",
    driver=False,  # §2.9 iterative-algorithm extension — pytest oracle
    oracle="""
WITH edges AS (
  SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
         CAST(count(*) AS BIGINT) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY 1, 2
), a1 AS (
  SELECT dst AS node, CAST(sum(w) AS BIGINT) AS a FROM edges GROUP BY dst
), h1 AS (
  SELECT src AS node, sum(CAST(e.w AS HUGEINT) * a1.a) AS h
  FROM edges e JOIN a1 ON a1.node = e.dst GROUP BY src
), a2 AS (
  SELECT dst AS node, sum(CAST(e.w AS HUGEINT) * h1.h) AS a
  FROM edges e JOIN h1 ON h1.node = e.src GROUP BY dst
), h2 AS (
  SELECT src AS node, sum(CAST(e.w AS HUGEINT) * a2.a) AS h
  FROM edges e JOIN a2 ON a2.node = e.dst GROUP BY src
), hm AS (SELECT max(h) AS m FROM h2), am AS (SELECT max(a) AS m FROM a2)
SELECT n.n_name AS nation,
       round(coalesce(CAST(h2.h AS DOUBLE), 0.0) / CAST(hm.m AS DOUBLE), 6) AS hub_score,
       round(coalesce(CAST(a2.a AS DOUBLE), 0.0) / CAST(am.m AS DOUBLE), 6) AS auth_score
FROM nation n
LEFT JOIN h2 ON h2.node = n.n_nationkey
LEFT JOIN a2 ON a2.node = n.n_nationkey
CROSS JOIN hm CROSS JOIN am
""",
)
def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities over the nation trade graph (supplier nation
    → customer nation, weight = lineitem count): two full unnormalized
    power-iteration rounds from h₀ = 1. Kleinberg's normalization is an
    end-only rescale, so the iterations stay in EXACT integers — h₁/a₂/h₂
    widen to 128-bit (Spark DECIMAL(38,0) ↔ DuckDB HUGEINT; h₂ ≈ 3×10¹⁷ at
    sf0.1) and only the final max-normalized scores convert to double
    (correctly-rounded cast + divide — identical IEEE both engines).
    SURVEY §2.9 bounded-iteration graph family next to q_pagerank.

    Scale: the edge build is the star join (broadcast dims onto lineitem,
    one groupBy); each HITS half-step is an edges⟕scores join + groupBy
    over the |nations|²-bounded edge table — metadata-sized here; at web
    scale edges bucket by the join side each hop exactly like the
    q_pagerank note, and more rounds need per-round rescaling (documented
    divergence from the exact-integer contract)."""
    _HI = "decimal(38,0)"
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    edges = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst"))
        .groupBy("src", "dst")
        .agg(F.count("*").alias("w"))
    )

    def hi(col):
        return col.cast(_HI)

    a1 = edges.groupBy(F.col("dst").alias("node")).agg(F.sum("w").alias("a"))
    h1 = (
        edges.join(F.broadcast(a1), F.col("node") == F.col("dst"))
        .groupBy(F.col("src").alias("hnode"))
        .agg(F.sum(hi(F.col("w")) * F.col("a")).alias("h"))
    )
    a2 = (
        edges.join(F.broadcast(h1), F.col("hnode") == F.col("src"))
        .groupBy(F.col("dst").alias("node"))
        .agg(F.sum(hi(F.col("w")) * F.col("h")).alias("a"))
    )
    h2 = (
        edges.join(F.broadcast(a2), F.col("node") == F.col("dst"))
        .groupBy(F.col("src").alias("hnode"))
        .agg(F.sum(hi(F.col("w")) * F.col("a")).alias("h"))
    )
    hm = h2.agg(F.max("h").alias("hmax"))
    am = a2.agg(F.max("a").alias("amax"))
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    out = (
        n.join(F.broadcast(h2), F.col("hnode") == F.col("n_nationkey"), "left")
        .join(F.broadcast(a2), F.col("node") == F.col("n_nationkey"), "left")
        .crossJoin(F.broadcast(hm))
        .crossJoin(F.broadcast(am))
    )
    return out.select(
        F.col("n_name").alias("nation"),
        F.round(
            F.coalesce(F.col("h").cast("double"), F.lit(0.0))
            / F.col("hmax").cast("double"),
            6,
        ).alias("hub_score"),
        F.round(
            F.coalesce(F.col("a").cast("double"), F.lit(0.0))
            / F.col("amax").cast("double"),
            6,
        ).alias("auth_score"),
    )


# --------------------------------------------------------------------------
# Spatial wave 2 (round 5, VERDICT r4 #6): haversine refine + point-in-polygon
# --------------------------------------------------------------------------
@register(
    "q_spatial_haversine",
    driver=False,  # §2.4 spatial family wave 2 (round 5) — pytest oracle
    oracle=_SPATIAL_SQL_PTS
    + """
, scored AS (
  SELECT user_id, poi_id,
         2.0 * 6371.0088 * asin(sqrt(
             sin(radians(plat - lat) / 2.0) * sin(radians(plat - lat) / 2.0)
             + cos(radians(lat)) * cos(radians(plat))
               * sin(radians(plon - lon) / 2.0) * sin(radians(plon - lon) / 2.0)
         )) AS d_km
  FROM pts, pois
), nearest AS (
  SELECT user_id, poi_id, d_km,
         row_number() OVER (PARTITION BY user_id ORDER BY d_km, poi_id) AS rn
  FROM scored WHERE d_km <= 250.0
)
SELECT user_id, poi_id, round(d_km, 6) AS dist_km
FROM nearest WHERE rn = 1
""",
)
def q_spatial_haversine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Great-circle (haversine) nearest-POI join within 250 km (SURVEY §2.4
    spatial family, wave 2): the same grid-bucketed candidate machinery as
    q_spatial_grid_join — 5° cells, POIs replicated into their 3×3 neighbor
    cells — but the refine step is the real geodesic, not squared degrees.
    The ORACLE is the brute-force cross join, so the parity check also
    PROVES the grid gating lossless at this radius: 250 km spans ≤ 2.26° of
    latitude and ≤ 4.82° of longitude anywhere in the fixture's |lat| ≤ 60
    band (Δlon = 250 / (111.32·cos 62°)), both under the 5° cell size.

    Parity discipline: identical md5-derived coordinates, identical
    radians/sin/cos/asin double expression in both engines (1-ulp libm
    drift is ~1e-14 km — invisible at the 6-dp round and measure-zero
    against the 250 km fence).

    Scale: equi-join on cell keys, POI×9 through the size-gated broadcast;
    at a planetary POI corpus shrink the cell to match the radius — the
    candidate fan-out tunes like LSH bucket width."""
    pts = _spatial_pts_cells(spark, sf_dir)
    pc = _poi_cell_arrays(_spatial_pois(spark, sf_dir))
    cand = pts.join(broadcast_if_small(pc), ["cy", "cx"])

    # r12 (VERDICT r11 #3): same fold-per-row shape as q_spatial_grid_join
    # — the geodesic is the IDENTICAL radians/sin/cos/asin double chain,
    # evaluated per array element instead of per joined row, and the
    # per-point window exchange is gone.
    def d_km_of(e):
        dphi2 = F.radians(e["plat"] - F.col("lat")) / 2.0
        dlmb2 = F.radians(e["plon"] - F.col("lon")) / 2.0
        return (
            F.lit(2.0)
            * F.lit(6371.0088)
            * F.asin(
                F.sqrt(
                    F.sin(dphi2) * F.sin(dphi2)
                    + F.cos(F.radians("lat"))
                    * F.cos(F.radians(e["plat"]))
                    * F.sin(dlmb2)
                    * F.sin(dlmb2)
                )
            )
        )

    scored = F.filter(
        F.transform(
            F.col("pois"),
            lambda e: F.struct(
                d_km_of(e).alias("d_km"), e["poi_id"].alias("poi_id")
            ),
        ),
        lambda s: s["d_km"] <= 250.0,
    )
    best = F.array_min(scored)
    return (
        cand.select("user_id", best.alias("best"))
        .filter(F.col("best").isNotNull())
        .select(
            "user_id",
            F.col("best.poi_id").alias("poi_id"),
            F.round(F.col("best.d_km"), 6).alias("dist_km"),
        )
    )


#: literal polygon rings (poly_id, [(x=lon, y=lat) vertices, unclosed]) —
#: one convex quad, one convex-ish pentagon, one CONCAVE pentagon (the case
#: a bbox test alone gets wrong). Shared verbatim by both engines.
_POLYGONS = [
    (1, [(-10.3, -35.2), (12.7, -40.1), (25.4, -12.8), (3.9, 4.6), (-18.2, -9.4)]),
    (2, [(30.5, 10.2), (60.8, 14.9), (58.3, 44.7), (27.1, 38.6)]),
    (3, [(-120.0, 20.0), (-80.5, 22.5), (-82.0, 55.0), (-100.0, 35.5), (-118.0, 52.0)]),
]


def _poly_edges_rows() -> list[tuple[int, float, float, float, float]]:
    rows = []
    for pid, ring in _POLYGONS:
        for i, (x1, y1) in enumerate(ring):
            x2, y2 = ring[(i + 1) % len(ring)]
            rows.append((pid, x1, y1, x2, y2))
    return rows


_POLY_EDGES_VALUES = ", ".join(
    f"({pid}, {x1!r}, {y1!r}, {x2!r}, {y2!r})" for pid, x1, y1, x2, y2 in _poly_edges_rows()
)


@register(
    "q_point_in_polygon",
    driver=False,  # §2.4 spatial family wave 2 (round 5) — pytest oracle
    oracle=_SPATIAL_SQL_PTS
    + f"""
, edges(poly_id, x1, y1, x2, y2) AS (
  SELECT * FROM (VALUES {_POLY_EDGES_VALUES}) v
), crossings AS (
  SELECT p.user_id, e.poly_id,
         sum(CASE WHEN (e.y1 > p.lat) <> (e.y2 > p.lat)
                   AND p.lon < (e.x2 - e.x1) * (p.lat - e.y1) / (e.y2 - e.y1) + e.x1
                  THEN 1 ELSE 0 END) AS k
  FROM pts p, edges e
  GROUP BY 1, 2
)
SELECT poly_id,
       CAST(count(*) FILTER (WHERE k % 2 = 1) AS BIGINT) AS n_inside,
       CAST(coalesce(sum(user_id) FILTER (WHERE k % 2 = 1), 0) AS BIGINT) AS id_checksum
FROM crossings
GROUP BY poly_id
""",
)
def q_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-polygon containment census by ray casting (SURVEY §2.4
    spatial family, wave 2): each user point shoots a +x ray; an edge is
    crossed iff it straddles the point's latitude and the intersection lies
    right of the point; odd crossings = inside. Pure codegen arithmetic —
    no GIS library — over a broadcast literal edge table, with a CONCAVE
    polygon included precisely because bbox tests misclassify it. Identical
    edge literals and the identical straddle/intersection expression run in
    both engines (1-ulp division drift is measure-zero against md5-derived
    coordinates).

    Scale: points never shuffle for containment — the polygon edges
    (bounded: curated geometry, not data) are LITERAL arrays folded per
    point with a higher-order ``aggregate`` (r11: previously the points
    cross-joined a broadcast edge table and the ray-parity count shuffled
    on (user_id, poly_id) — n_pts × |polygons| groups with no map-side
    reduction; the per-row fold computes the same integer crossing sums —
    order-free, identical doubles in the intersection test — so the only
    exchange left is the ≤|polygons|-group final census). For polygon
    CORPORA (millions of parcels) bucket both sides by the 5° grid cell
    first — the same candidate machinery as the joins above; the
    per-candidate test is unchanged."""
    pts = _spatial_pts(spark, sf_dir)

    def crossed(e) -> Column:
        straddle = (e["y1"] > F.col("lat")) != (e["y2"] > F.col("lat"))
        xint = (e["x2"] - e["x1"]) * (F.col("lat") - e["y1"]) / (
            e["y2"] - e["y1"]
        ) + e["x1"]
        return F.when(straddle & (F.col("lon") < xint), 1).otherwise(0)

    def poly_edges_lit(pid: int) -> Column:
        return F.array(
            *[
                F.struct(
                    F.lit(x1).alias("x1"), F.lit(y1).alias("y1"),
                    F.lit(x2).alias("x2"), F.lit(y2).alias("y2"),
                )
                for p, x1, y1, x2, y2 in _poly_edges_rows()
                if p == pid
            ]
        )

    poly_ids = [pid for pid, _ in _POLYGONS]
    per_poly = pts.select(
        "user_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(pid).cast("long").alias("poly_id"),
                        (
                            F.aggregate(
                                poly_edges_lit(pid),
                                F.lit(0),
                                lambda acc, e: acc + crossed(e),
                            )
                            % 2
                            == 1
                        ).alias("inside"),
                    )
                    for pid in poly_ids
                ]
            )
        ).alias("r"),
    ).select("user_id", "r.poly_id", "r.inside")
    inside = F.col("inside")
    return per_poly.groupBy("poly_id").agg(
        F.sum(F.when(inside, 1).otherwise(0)).cast("long").alias("n_inside"),
        F.coalesce(F.sum(F.when(inside, F.col("user_id"))), F.lit(0))
        .cast("long")
        .alias("id_checksum"),
    )


# --------------------------------------------------------------------------
# Closeness + harmonic centrality by multi-source BFS (round 5)
# --------------------------------------------------------------------------
@register(
    "q_closeness_centrality",
    driver=False,  # §2.11 graph family (round 5) — pytest oracle
    oracle=f"""
WITH RECURSIVE e0 AS (
{_TRADE_EDGES_SQL.format(min_count=120)}
), e AS MATERIALIZED (
  SELECT src AS u, dst AS v FROM e0
  UNION
  SELECT dst, src FROM e0
), walk AS (
  -- UNION (distinct) recursion bounds the state to DISTINCT (src,node,d)
  -- tuples — O(n² · diameter), not the walk explosion UNION ALL would be
  SELECT u AS src, v AS node, 1 AS d FROM e
  UNION
  SELECT w.src, e.v, w.d + 1
  FROM walk w JOIN e ON e.u = w.node
  WHERE w.d < 9 AND e.v <> w.src
), sp AS (
  SELECT src, node, CAST(min(d) AS BIGINT) AS d FROM walk GROUP BY 1, 2
)
SELECT src AS node,
       CAST(count(*) AS BIGINT) AS n_reach,
       CAST(sum(d) AS BIGINT)   AS sum_d,
       round(CAST(count(*) AS DOUBLE) / sum(d), 6) AS closeness,
       round(CAST(sum(2520 // d) AS DOUBLE) / 2520.0, 6) AS harmonic
FROM sp
GROUP BY src
""",
)
def q_closeness_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closeness and harmonic centrality of the supplier→customer nation
    graph by MULTI-SOURCE BFS (SURVEY §2.11 graph tier, beside
    q_pagerank/q_kcore): every node is a BFS source at once — the frontier
    is (src, node) pairs, each round joins the frontier to the edge list,
    anti-joins the visited set, and checkpoints (session.checkpoint, the
    shared iterative discipline). Exact, not approximate: the oracle
    replays the same layered expansion as a distinct-recursion CTE.
    Harmonic centrality Σ 1/d(u,v) is the one of the two that handles
    disconnected graphs: an unreachable node adds 0, not ∞.

    Parity discipline: harmonic centrality Σ 1/d is an ORDER-DEPENDENT
    double sum engine-to-engine, so it is computed as the exact integer
    census Σ (2520 div d) / 2520 — 2520 = lcm(1..10) makes every term exact
    for the diameters this graph can reach (and integer div truncates
    identically in both engines beyond it).

    Scale: state is O(n²) pairs for an n-node graph — right for
    entity-graph centralities (nations, brands, data centers). For
    million-node graphs exact all-pairs closeness is off the table ANYWHERE;
    the standard move is landmark sampling (BFS from k random sources,
    same loop with a sampled source set) — the frontier machinery is
    unchanged."""
    e0 = _trade_edges(spark, sf_dir, 120)
    # r12 (VERDICT r11 #1): the multi-source BFS moved to operators/graph.
    # hop_distances — metadata-sized graphs (one bounded edge fetch
    # decides) expand all 9 levels on the driver on boolean
    # adjacency matrices instead of 8 scheduler waves of join + distinct +
    # anti-join + checkpoint + an empty-probe action each; the distributed
    # loop is unchanged past the threshold and both paths produce the
    # identical (src, node, d) set (tests/test_graph_kernels.py).
    from ..operators.graph import hop_distances

    visited = hop_distances(e0, src="src", dst="dst", max_d=9)
    return visited.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("n_reach"),
        F.sum("d").alias("sum_d"),
        F.round(F.count("*").cast("double") / F.sum("d"), 6).alias("closeness"),
        F.round(
            F.sum(F.expr("2520 div d")).cast("double") / 2520.0, 6
        ).alias("harmonic"),
    )


# --------------------------------------------------------------------------
# Strongly connected components (directed trade graph, round 5)
# --------------------------------------------------------------------------
@register(
    "q_scc",
    # driver slot since r10 (VERDICT r9 #2, wave 5): second graph algorithm
    # graded externally (directed SCC; betweenness rotated off)
    oracle=f"""
WITH RECURSIVE e AS MATERIALIZED (
  -- MATERIALIZED: inlined, DuckDB re-runs the join every recursion round
  -- (>120 s at sf1 vs 1.5 s)
{_TRADE_EDGES_SQL.format(min_count=150)}
), reach AS (
  SELECT src AS a, dst AS b FROM e
  UNION
  SELECT r.a, e.dst FROM reach r JOIN e ON e.src = r.b
), nodes AS (
  SELECT src AS v FROM e UNION SELECT dst FROM e
), mutual AS (
  SELECT r1.a AS v, r1.b AS u
  FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
), lab AS (
  SELECT n.v, CAST(least(n.v, coalesce(min(m.u), n.v)) AS BIGINT) AS scc_id
  FROM nodes n LEFT JOIN mutual m ON m.v = n.v
  GROUP BY n.v
)
SELECT scc_id,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(min(v) AS BIGINT)   AS min_member,
       CAST(max(v) AS BIGINT)   AS max_member
FROM lab GROUP BY scc_id
""",
)
def q_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components of the DIRECTED supplier→customer
    nation trade graph (SURVEY §2.11 graph tier): transitive closure by
    semi-naive iteration (frontier ⋈ edges, anti-join known pairs,
    checkpoint per round — the session.checkpoint discipline), then
    SCC(v) = min over nodes mutually reachable with v. Directedness is the
    point: A exporting to B does not mean B exports to A, and an SCC is a
    trade bloc where value can CYCLE — the difference between this and
    q_dedup_clusters' undirected components. The oracle replays the same
    closure as a distinct-recursion CTE.

    Scale: closure state is O(reachable pairs) — right for entity graphs
    (nations, brands, currencies, org charts). Web-scale SCC uses
    forward-backward label propagation instead; the round structure (join,
    anti-join, checkpoint) is exactly what this query exercises."""
    e = _trade_edges(spark, sf_dir, 150).transform(checkpoint, eager=False)
    reach = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    frontier = reach
    for _ in range(8):
        nxt = (
            frontier.join(e, frontier.b == e.src)
            .select("a", F.col("dst").alias("b"))
            .distinct()
            .join(
                reach.select(F.col("a").alias("ra"), F.col("b").alias("rb")),
                (F.col("a") == F.col("ra")) & (F.col("b") == F.col("rb")),
                "left_anti",
            )
        )
        nxt = checkpoint(nxt)
        if nxt.limit(1).count() == 0:
            break
        reach = checkpoint(reach.unionByName(nxt))
        frontier = nxt
    else:
        # cap reached with a live frontier: returning an INCOMPLETE closure
        # would mean wrong scc_ids and silent divergence from the oracle's
        # unbounded recursion (the connected_components discipline) — raise
        # unless one more expansion proves the closure in fact just finished
        more = (
            frontier.join(e, frontier.b == e.src)
            .select("a", F.col("dst").alias("b"))
            .distinct()
            .join(
                reach.select(F.col("a").alias("ra"), F.col("b").alias("rb")),
                (F.col("a") == F.col("ra")) & (F.col("b") == F.col("rb")),
                "left_anti",
            )
        )
        if more.limit(1).count() > 0:
            raise RuntimeError(
                "q_scc transitive closure did not converge in 8 rounds — "
                "raise the round cap (closure depth grew past 9 edges)"
            )
    nodes = (
        e.select(F.col("src").alias("v"))
        .union(e.select(F.col("dst").alias("v")))
        .distinct()
    )
    mutual = reach.alias("r1").join(
        reach.alias("r2"),
        (F.col("r1.a") == F.col("r2.b")) & (F.col("r1.b") == F.col("r2.a")),
    ).select(F.col("r1.a").alias("mv"), F.col("r1.b").alias("mu"))
    lab = (
        nodes.join(mutual, nodes.v == F.col("mv"), "left")
        .groupBy("v")
        .agg(
            F.least(F.col("v"), F.coalesce(F.min("mu"), F.col("v"))).alias("scc_id")
        )
    )
    return lab.groupBy("scc_id").agg(
        F.count("*").alias("n_members"),
        F.min("v").alias("min_member"),
        F.max("v").alias("max_member"),
    )


# --------------------------------------------------------------------------
# Geohash encode + prefix rollup (round 5 continuation, spatial wave 3)
# --------------------------------------------------------------------------
_GH_B32 = "0123456789bcdefghjkmnpqrstuvwxyz"

# precision-5 geohash = 25 bits: lon 13 (even offsets from MSB), lat 12 (odd)
_GH_LON_BITS = [(i, 1 << (2 * i)) for i in range(13)]          # x bit i → z bit 2i
_GH_LAT_BITS = [(j, 1 << (2 * j + 1)) for j in range(12)]      # y bit j → z bit 2j+1

_GH_SQL_Z = " + ".join(
    [f"((x // {1 << i}) % 2) * {w}" for i, w in _GH_LON_BITS]
    + [f"((y // {1 << j}) % 2) * {w}" for j, w in _GH_LAT_BITS]
)
_GH_SQL_CHARS = " || ".join(
    f"substr('{_GH_B32}', CAST((z // {1 << (20 - 5 * j)}) % 32 AS INTEGER) + 1, 1)"
    for j in range(5)
)


@register(
    "q_geohash_rollup",
    driver=False,  # §2.4 spatial family wave 3 (round 5) — pytest oracle
    oracle=_SPATIAL_SQL_PTS
    + f"""
, xy AS (
  SELECT user_id, lat, lon,
         CAST(floor((lon + 180.0) / 360.0 * 8192.0) AS BIGINT) AS x,
         CAST(floor((lat + 90.0) / 180.0 * 4096.0) AS BIGINT)  AS y
  FROM pts
), zz AS (
  SELECT user_id, lat, lon, {_GH_SQL_Z} AS z FROM xy
), gh AS (
  SELECT user_id, lat, lon, {_GH_SQL_CHARS} AS geohash5 FROM zz
)
SELECT substr(geohash5, 1, 2) AS gh2,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(count(DISTINCT geohash5) AS BIGINT) AS n_cells5,
       round(min(lat), 6) AS min_lat,
       round(max(lat), 6) AS max_lat,
       round(min(lon), 6) AS min_lon,
       round(max(lon), 6) AS max_lon
FROM gh
GROUP BY 1
""",
)
def q_geohash_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geohash encoding (precision 5) + prefix-2 density rollup over the
    shared md5-derived point set — spatial wave 3 next to the grid join
    and haversine refine (SURVEY §2.4 spatial family): the
    variable-resolution spatial KEY the grid join's fixed 5° cells can't
    give you (prefix truncation = coarser cell, the S2/H3 idea in its
    portable base-32 form). The bit interleave is UNROLLED integer
    arithmetic — x = floor((lon+180)/360·2¹³), y likewise 12-bit, then 25
    alternating (x div 2^i) % 2 terms — so both engines compute identical
    BIGINTs end-to-end; the only FP ops are the two quantizations, written
    as the same IEEE tree. Base-32 chars come from substr over the
    standard alphabet; rollup emits per-prefix user counts, distinct
    full-resolution cells, and the bounding box.

    Scale: encode is row-local codegen (zero shuffle, zero UDF); the
    rollup is one groupBy on a low-cardinality prefix. At 100 TB the same
    column is the repartition/Z-order key that co-locates spatially-near
    rows — the lakehouse layout trick q_zorder_cluster measures."""
    pts = _spatial_pts(spark, sf_dir)
    x = F.floor((F.col("lon") + 180.0) / 360.0 * 8192.0)
    y = F.floor((F.col("lat") + 90.0) / 180.0 * 4096.0)
    xy = pts.select("user_id", "lat", "lon", x.alias("x"), y.alias("y"))
    z = None
    for i, w in _GH_LON_BITS:
        term = F.expr(f"(x div {1 << i}) % 2") * w
        z = term if z is None else z + term
    for j, w in _GH_LAT_BITS:
        z = z + F.expr(f"(y div {1 << j}) % 2") * w
    zz = xy.select("user_id", "lat", "lon", z.alias("z"))
    gh = zz.select(
        "user_id",
        "lat",
        "lon",
        F.concat(
            *[
                F.expr(
                    f"substr('{_GH_B32}', cast((z div {1 << (20 - 5 * j)}) % 32 as int) + 1, 1)"
                )
                for j in range(5)
            ]
        ).alias("geohash5"),
    )
    return gh.groupBy(F.substring("geohash5", 1, 2).alias("gh2")).agg(
        F.count("*").alias("n_users"),
        F.count_distinct("geohash5").alias("n_cells5"),
        F.round(F.min("lat"), 6).alias("min_lat"),
        F.round(F.max("lat"), 6).alias("max_lat"),
        F.round(F.min("lon"), 6).alias("min_lon"),
        F.round(F.max("lon"), 6).alias("max_lon"),
    )


# --------------------------------------------------------------------------
# Betweenness centrality (round 5 continuation — graph wave 3)
# --------------------------------------------------------------------------
@register(
    "q_betweenness",
    # driver r6–r9 (4 green rounds); rotated off r10 (VERDICT r9 #2, wave 5)
    # — the graph slot goes to q_scc (never externally graded)
    driver=False,
    oracle=f"""
WITH RECURSIVE e0 AS (
{_TRADE_EDGES_SQL.format(min_count=190)}
), e AS MATERIALIZED (
  -- MATERIALIZED: inlined, DuckDB re-evaluates the 4-way fact join every
  -- recursion round (the q_cycle_nodes sf1 hang class)
  -- DISTINCT over UNION ALL, not bare UNION: inside WITH RECURSIVE DuckDB
  -- gives a top-level-UNION CTE recursive semantics and skips the dedup;
  -- duplicate symmetrized edges would double sigma (row multiplicity IS
  -- sigma below) whenever the census held both (a,b) and (b,a) — caught
  -- by the hypothesis reversed-duplicate counterexample, round 5
  SELECT DISTINCT u, v FROM (
    SELECT src AS u, dst AS v FROM e0
    UNION ALL
    SELECT dst, src FROM e0
  ) sym
), walk AS (
  SELECT u AS src, v AS node, 1 AS d FROM e
  UNION
  SELECT w.src, e.v, w.d + 1
  FROM walk w JOIN e ON e.u = w.node
  WHERE w.d < 9 AND e.v <> w.src
), sp0 AS (
  SELECT src, node, CAST(min(d) AS BIGINT) AS d FROM walk GROUP BY 1, 2
), sp AS (
  SELECT src, src AS node, CAST(0 AS BIGINT) AS d
  FROM (SELECT DISTINCT src FROM sp0)
  UNION ALL
  SELECT * FROM sp0
), paths AS (
  -- UNION ALL over the shortest-path DAG only (each extension must land
  -- exactly one level deeper per sp) — row multiplicity IS sigma
  SELECT src, src AS node, CAST(0 AS BIGINT) AS d
  FROM (SELECT DISTINCT src FROM sp0)
  UNION ALL
  SELECT p.src, e.v, p.d + 1
  FROM paths p
  JOIN e ON e.u = p.node
  JOIN sp ON sp.src = p.src AND sp.node = e.v AND sp.d = p.d + 1
), sig AS (
  SELECT src, node, max(d) AS d, CAST(count(*) AS BIGINT) AS sigma
  FROM paths GROUP BY src, node
)
SELECT a.node AS node,
       CAST(count(*) AS BIGINT) AS n_mid_pairs,
       round(CAST(sum(CAST(a.sigma * b.sigma AS HUGEINT) * 720720 // st.sigma)
                  AS DOUBLE) / 720720.0, 6) AS betweenness
FROM sig a
JOIN sig b ON b.src = a.node
JOIN sig st ON st.src = a.src AND st.node = b.node
WHERE a.src < b.node
  AND a.node <> a.src AND a.node <> b.node
  AND a.d + b.d = st.d
GROUP BY a.node
""",
)
def q_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact betweenness centrality of the trade nation graph (SURVEY §2.11
    graph tier, completing the centrality trio with q_pagerank and
    q_closeness_centrality). Forward phase: multi-source BFS that carries
    the shortest-path COUNT sigma — each level is frontier⋈edges, partial
    sigmas summed per (src, node) (exact integers), anti-joined against
    visited, checkpointed (the shared iterative discipline). Scoring uses
    the pair-counting identity B(v) = Σ_{s<t} σ_sv·σ_vt/σ_st over pairs
    with d_sv + d_vt = d_st — no backward sweep, no order-dependent double
    accumulation: each term is the INTEGER (σ_sv·σ_vt·720720) div σ_st
    (the q_closeness_centrality 2520-census trick; 720720 = 2⁴·3²·5·7·11·13 makes
    every σ_st ≤ 16 exact and truncates identically in both engines
    beyond), summed exactly and divided once at the end. Products widen
    to DECIMAL/HUGEINT before the scale multiply (the ADVICE r4 lesson).
    Nodes on no shortest path are absent (betweenness 0).

    Scale: BFS state is O(n²) pairs and the scoring join O(n³) — exact
    betweenness is an entity-graph statistic ANYWHERE (NetworkX included);
    for big graphs the standard swap is source-sampled Brandes (same BFS
    from k sampled sources), which reuses this exact frontier machinery."""
    e0 = _trade_edges(spark, sf_dir, 190)
    e = (
        e0.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .union(e0.select(F.col("dst").alias("u"), F.col("src").alias("v")))
        .distinct()
        .transform(checkpoint, eager=False)
    )
    nodes = e.select(F.col("u").alias("n")).distinct()
    frontier = nodes.select(
        F.col("n").alias("src"),
        F.col("n").alias("node"),
        F.lit(0).cast("long").alias("d"),
        F.lit(1).cast("long").alias("sigma"),
    )
    visited = frontier
    for _ in range(9):
        nxt = (
            frontier.join(e, frontier.node == e.u)
            .groupBy("src", F.col("v").alias("node"))
            .agg(F.max(F.col("d") + 1).alias("d"), F.sum("sigma").alias("sigma"))
            .join(
                visited.select(F.col("src").alias("vs"), F.col("node").alias("vn")),
                (F.col("src") == F.col("vs")) & (F.col("node") == F.col("vn")),
                "left_anti",
            )
        )
        nxt = checkpoint(nxt)
        if nxt.limit(1).count() == 0:
            break
        visited = checkpoint(visited.unionByName(nxt))
        frontier = nxt
    sig = visited
    a = sig.select(
        F.col("src").alias("s"), F.col("node").alias("v"),
        F.col("d").alias("d_sv"), F.col("sigma").alias("sig_sv"),
    )
    b = sig.select(
        F.col("src").alias("v"), F.col("node").alias("t"),
        F.col("d").alias("d_vt"), F.col("sigma").alias("sig_vt"),
    )
    st = sig.select(
        F.col("src").alias("s"), F.col("node").alias("t"),
        F.col("d").alias("d_st"), F.col("sigma").alias("sig_st"),
    )
    term = F.expr(
        "cast(cast(sig_sv * sig_vt as decimal(38,0)) * 720720 as decimal(38,0)) div sig_st"
    )
    return (
        a.join(F.broadcast(b), "v")
        .join(F.broadcast(st), ["s", "t"])
        .filter(
            (F.col("s") < F.col("t"))
            & (F.col("v") != F.col("s"))
            & (F.col("v") != F.col("t"))
            & (F.col("d_sv") + F.col("d_vt") == F.col("d_st"))
        )
        .groupBy(F.col("v").alias("node"))
        .agg(
            F.count("*").alias("n_mid_pairs"),
            F.round(F.sum(term).cast("double") / 720720.0, 6).alias("betweenness"),
        )
    )


# --------------------------------------------------------------------------
# DAG layering / critical-path depth (round 5 continuation)
# --------------------------------------------------------------------------
@register(
    "q_dag_layers",
    driver=False,  # §2.11 graph family (round 5) — pytest oracle
    oracle=f"""
WITH RECURSIVE e AS MATERIALIZED (
  -- MATERIALIZED: inlined, DuckDB re-runs the join every recursion round
  -- (>120 s at sf1 vs 1.5 s)
  SELECT src, dst FROM ({_TRADE_EDGES_SQL.format(min_count=100)}) t
  WHERE src < dst
), nodes AS (SELECT src AS v FROM e UNION SELECT dst FROM e),
walk(v, d) AS (
  SELECT v, CAST(0 AS BIGINT) FROM nodes
  UNION
  SELECT e.dst, w.d + 1 FROM walk w JOIN e ON e.src = w.v
)
SELECT v AS node, CAST(max(d) AS BIGINT) AS depth
FROM walk GROUP BY v
""",
)
def q_dag_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topological layering of a DAG: longest-path depth per node — the
    stage-scheduling shape (build systems, task orchestration, lineage
    DAGs): depth 0 = sources, depth d = nodes whose slowest dependency
    chain has d hops, i.e. the earliest wave the node can run in
    (SURVEY §2.11 graph tier, completing the directed family beside
    q_scc and q_bfs_reachability). The nation trade graph is made acyclic
    by construction (src < dst), and depth relaxes iteratively:
    d(v) ← max(d(v), d(u)+1) over incoming edges until a fixpoint — the
    distributed Bellman-Ford specialization for DAGs. Convergence is
    detected by the monotone Σd invariant (strictly increases until the
    fixpoint, so one cheap scalar action per round). The oracle is a
    recursive CTE with UNION dedup — the (v, d) pair space is
    |V|·diameter, so it never path-explodes even on dense graphs.

    Scale: each round joins the (broadcastable, |V|-sized) depth table
    against the edge list — the edge list is checkpointed once and never
    rebuilt; rounds grow O(diameter) like q_kcore, and the same
    pointer-jumping doubling applies to deep chains. Depth tables at
    web scale shuffle on v with map-side max partials."""
    e0 = _trade_edges(spark, sf_dir, 100).filter(F.col("src") < F.col("dst"))
    # r11: the relaxation loop moved to operators/graph.dag_depths — the
    # q_pagerank pattern: metadata-sized DAGs (one bounded fetch decides)
    # run the whole fixpoint on the driver instead of ~10 scheduler
    # waves of broadcast join + union + max-groupBy + eager checkpoint +
    # a Σd convergence action per hop; the distributed loop is unchanged
    # and remains the path past the node threshold (both paths proven
    # value-identical in tests/test_dag_layers_paths.py — integer
    # relaxation, so the fixpoint is identical by construction).
    from ..operators.graph import dag_depths

    return dag_depths(e0, src="src", dst="dst").select(
        F.col("node"), F.col("d").cast("long").alias("depth")
    )


# --------------------------------------------------------------------------
# Directed-cycle membership + reachability census (round 5 continuation)
# --------------------------------------------------------------------------
@register(
    "q_cycle_nodes",
    driver=False,  # §2.11 graph family (round 5) — pytest oracle
    oracle=f"""
WITH RECURSIVE e AS MATERIALIZED (
  -- MATERIALIZED: inlined, DuckDB re-runs the join every recursion round
  -- (>120 s at sf1 vs 1.5 s)
{_TRADE_EDGES_SQL.format(min_count=100)}
), walk(s, v) AS (
  SELECT src, dst FROM e
  UNION
  SELECT w.s, e.dst FROM walk w JOIN e ON e.src = w.v
), nodes AS (
  -- DISTINCT over UNION ALL, not bare UNION: inside WITH RECURSIVE DuckDB
  -- gives a top-level-UNION CTE recursive semantics and skips the dedup
  SELECT DISTINCT node
  FROM (SELECT src AS node FROM e UNION ALL SELECT dst FROM e) u
)
SELECT n.node,
       CAST(coalesce(r.cnt, 0) AS BIGINT) AS n_reachable,
       coalesce(c.on_cycle, FALSE) AS on_cycle
FROM nodes n
LEFT JOIN (SELECT s, CAST(count(*) AS BIGINT) AS cnt FROM walk GROUP BY s) r
  ON r.s = n.node
LEFT JOIN (SELECT s, TRUE AS on_cycle FROM walk WHERE s = v GROUP BY s) c
  ON c.s = n.node
""",
)
def q_cycle_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed-cycle membership over the UNCONSTRAINED nation trade graph
    (src ≠ dst, so cycles are real): a node is on a cycle iff it can reach
    itself through the transitive closure — the feedback-loop detector
    dependency systems run before topological scheduling (q_dag_layers
    assumes acyclicity; this query is the check that licenses it; SURVEY
    §2.11 graph tier). The closure builds by iterative edge-extension of
    the (start, v) pair set with UNION-dedup per round — the pair space
    is capped at |V|², so rounds shrink as the set saturates, and the
    fixpoint is detected by the pair COUNT stalling (monotone non-
    decreasing, so one cheap scalar action per round). Also reports each
    node's reachable-set size — the closure census. The oracle is the
    same closure as a recursive CTE.

    Scale: |V| here is nation-sized, so every table is metadata. At web
    scale, transitive closure is the wrong primitive (|V|² pairs) — the
    100 TB path is SCC condensation first (q_scc's pointer-jumping), then
    cycle membership = |SCC| > 1, which this query's fixture-scale output
    is pinned against in pytest."""
    e0 = _trade_edges(spark, sf_dir, 100)
    # r12 (VERDICT r11 #1): the closure loop moved to operators/graph.
    # closure_census — metadata-sized graphs (one bounded edge fetch
    # decides) run the whole reach ∪= reach·adj fixpoint on the driver
    # on a boolean reachability matrix instead of ≤64 scheduler waves of
    # join + union + distinct + checkpoint + a count action each; the
    # distributed loop is unchanged past the threshold and both paths are
    # exact set algebra (tests/test_graph_kernels.py).
    from ..operators.graph import closure_census

    return closure_census(e0, src="src", dst="dst", max_rounds=64)


@register("q_sssp_weighted", driver=False)  # rows-only: weighted shortest paths need recursion-with-aggregation, which DuckDB 1.0 recursive CTEs cannot express on cyclic graphs (SURVEY §7.4.3); python-Dijkstra-replay-pinned in tests
def q_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source weighted shortest paths over the cyclic nation trade
    graph — the Dijkstra/Bellman-Ford capability completing the graph
    tier's distance family (q_bfs_reachability is the unweighted case,
    q_dag_layers the longest-path dual; SURVEY §2.11 graph tier). Edge
    weight = the MINIMUM observed lineitem price (exact integer cents —
    min, not avg, so the weight is engine-exact), source = the smallest
    node id. Distances relax iteratively: d(v) ← min(d(v), d(u)+w(u,v))
    until the monotone Σd fixpoint — distributed Bellman-Ford, which
    tolerates the cycles a recursive-CTE walk cannot (positive-cost
    cycles never improve a distance, so the fixpoint exists and is the
    true shortest-path vector).

    Rows-only by nature: DuckDB 1.0 recursive CTEs forbid aggregation
    in the recursive term and would path-explode on a cyclic graph, so
    the pin is an independent heap Dijkstra replay in pytest over the
    same edge list.

    Scale: each round is one (edges ⋈ broadcast distance-table) join +
    a min partial-agg — O(diameter) rounds like q_kcore; the edge list
    is checkpointed once. At web scale the round table shuffles on v
    with map-side min combine; delta-stepping (bucketed relaxation) is
    the documented swap when diameters grow."""
    from ..session import register_views

    register_views(spark, sf_dir)
    e0 = spark.sql(
        """
        SELECT s_nationkey AS src, c_nationkey AS dst,
               CAST(min(round(l_extendedprice * 100)) AS BIGINT) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE s_nationkey <> c_nationkey
        GROUP BY 1, 2 HAVING count(*) >= 100
        """
    )
    e = checkpoint(e0, eager=False)
    nodes = (
        e.select(F.col("src").alias("v")).union(e.select(F.col("dst"))).distinct()
    )
    src_row = nodes.agg(F.min("v").alias("s"))
    big = F.lit(1 << 60).cast("long")
    dist = nodes.crossJoin(F.broadcast(src_row)).select(
        "v", F.when(F.col("v") == F.col("s"), 0).otherwise(big).alias("d")
    )
    prev = None
    for _ in range(64):  # ≤ |V| rounds on positive weights; cap is a backstop
        relaxed = e.join(F.broadcast(dist), e.src == dist.v).select(
            F.col("dst").alias("v"), (F.col("d") + F.col("w")).alias("d")
        )
        dist = checkpoint(
            dist.union(relaxed).groupBy("v").agg(F.min("d").alias("d"))
        )
        # widen the fixpoint probe: |V| sentinel distances of 2^60 overflow int64
        cur = dist.agg(F.sum(F.col("d").cast("decimal(38,0)"))).first()[0]
        if cur == prev:
            break
        prev = cur
    return (
        dist.crossJoin(F.broadcast(src_row))
        .select(
            F.col("s").alias("source"),
            F.col("v").alias("node"),
            F.when(F.col("d") < (1 << 60), F.col("d")).alias("dist_cents"),
        )
    )


# --------------------------------------------------------------------------
# 1-D DBSCAN via gaps-and-islands (round 5 continuation)
# --------------------------------------------------------------------------
@register(
    "q_dbscan_1d",
    driver=False,  # §2.11 clustering family (round 5) — pytest oracle
    oracle="""
WITH pts AS (
  SELECT DISTINCT CAST(round(value * 100) AS BIGINT) AS c
  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
), weighted AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS c, CAST(count(*) AS BIGINT) AS w
  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL GROUP BY 1
), flagged AS (
  SELECT c, CASE WHEN lag(c) OVER (ORDER BY c) IS NULL
                   OR c - lag(c) OVER (ORDER BY c) > 500 THEN 1 ELSE 0 END AS brk
  FROM pts
), islands AS (
  SELECT c, CAST(sum(brk) OVER (ORDER BY c) AS BIGINT) AS cid FROM flagged
), clusters AS (
  SELECT i.cid, min(i.c) AS lo_cents, max(i.c) AS hi_cents,
         CAST(sum(w.w) AS BIGINT) AS n_points,
         CAST(count(*) AS BIGINT) AS n_distinct
  FROM islands i JOIN weighted w USING (c)
  GROUP BY i.cid
)
SELECT CAST(row_number() OVER (ORDER BY lo_cents) AS BIGINT) AS cluster_id,
       lo_cents, hi_cents, n_points, n_distinct,
       n_points >= 5 AS is_core_cluster
FROM clusters
""",
)
def q_dbscan_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN in one dimension, exactly: on a line, density clusters with
    eps-reachability are PRECISELY the gaps-and-islands partition (two
    points connect iff their gap ≤ eps = $5.00), so the classic lag +
    running-break-sum construction computes the true DBSCAN clustering
    with no iteration and no approximation — clusters carry their value
    range, weighted point count, and a min-points core flag (SURVEY
    §2.11 clustering tier beside k-means/SemDeDup; 1-D DBSCAN is the
    price-banding / sensor-mode-detection workhorse). Everything is
    exact integer cents; the oracle replays the identical construction.

    Scale: distinct cents collapse the stream to a domain-sized table
    first (the q_cliffs_delta contraction), so the ordered window runs
    over metadata; at a continuous domain, pre-bucket to eps/2 grid
    cells and merge adjacent non-empty cells — the same islands shape,
    provably equivalent for eps-reachability."""
    pts_all = (
        table(spark, sf_dir, "events")
        .filter((F.col("event_type") == "purchase") & F.col("value").isNotNull())
        .select(F.round(F.col("value") * 100).cast("long").alias("c"))
    )
    weighted = pts_all.groupBy("c").agg(F.count("*").alias("w"))
    pts = weighted.select("c")
    wl = Window.orderBy("c")
    flagged = pts.select(
        "c",
        F.when(
            F.lag("c").over(wl).isNull() | (F.col("c") - F.lag("c").over(wl) > 500),
            1,
        )
        .otherwise(0)
        .alias("brk"),
    )
    islands = flagged.select(
        "c",
        F.sum("brk").over(wl.rowsBetween(Window.unboundedPreceding, 0)).alias("cid"),
    )
    clusters = (
        islands.join(weighted, "c")
        .groupBy("cid")
        .agg(
            F.min("c").alias("lo_cents"),
            F.max("c").alias("hi_cents"),
            F.sum("w").alias("n_points"),
            F.count("*").alias("n_distinct"),
        )
    )
    return clusters.select(
        F.row_number().over(Window.orderBy("lo_cents")).cast("long").alias(
            "cluster_id"
        ),
        "lo_cents",
        "hi_cents",
        "n_points",
        "n_distinct",
        (F.col("n_points") >= 5).alias("is_core_cluster"),
    )


# --------------------------------------------------------------------------
# Column-profile drift report (round 5 continuation)
# --------------------------------------------------------------------------
@register(
    "q_profile_drift",
    driver=False,  # §2.11 data-quality family (round 5) — pytest oracle
    oracle="""
WITH bounds AS (
  SELECT min(ts) AS t0, max(ts) AS t1 FROM events
), tagged AS (
  SELECT e.*, CASE WHEN epoch(e.ts) - epoch(b.t0)
                   < (epoch(b.t1) - epoch(b.t0)) / 2.0
              THEN 'early' ELSE 'late' END AS half
  FROM events e, bounds b
), prof AS (
  SELECT half,
         CAST(count(*) AS BIGINT) AS n,
         round(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
               / CAST(count(*) AS DOUBLE), 6) AS null_rate,
         CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
         CAST(min(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS min_cents,
         CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS max_cents,
         round(sum(CAST(round(value * 100) AS BIGINT))
               / (100.0 * count(value)), 4) AS mean_value
  FROM tagged GROUP BY half
), w AS (
  SELECT max(CASE WHEN half = 'early' THEN n END) AS n_e,
         max(CASE WHEN half = 'late' THEN n END) AS n_l,
         max(CASE WHEN half = 'early' THEN null_rate END) AS nr_e,
         max(CASE WHEN half = 'late' THEN null_rate END) AS nr_l,
         max(CASE WHEN half = 'early' THEN n_types END) AS ty_e,
         max(CASE WHEN half = 'late' THEN n_types END) AS ty_l,
         max(CASE WHEN half = 'early' THEN n_users END) AS us_e,
         max(CASE WHEN half = 'late' THEN n_users END) AS us_l,
         max(CASE WHEN half = 'early' THEN mean_value END) AS mv_e,
         max(CASE WHEN half = 'late' THEN mean_value END) AS mv_l
  FROM prof
)
SELECT n_e, n_l, nr_e, nr_l, ty_e, ty_l, us_e, us_l, mv_e, mv_l,
       abs(nr_l - nr_e) > 0.02 AS null_rate_drift,
       ty_l <> ty_e AS type_domain_drift,
       CASE WHEN mv_e <> 0 THEN abs(mv_l - mv_e) / abs(mv_e) > 0.25 END
         AS mean_drift
FROM w
""",
)
def q_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profile drift report: split the event stream at the midpoint
    of its time range and compare per-half data-contract profiles — null
    rate, categorical domain size, user cardinality, value mean — with
    threshold flags (SURVEY §2.11 data-quality tier; the schema-drift
    monitor every ingestion pipeline runs between yesterday's and today's
    partition, beside q_data_quality's static checks and q_drift_psi's
    distributional score). Every profile number is an exact integer
    census or an exact-cents ratio rounded at a fixed depth; the drift
    flags compare the ROUNDED profile numbers, so the booleans are
    engine-identical.

    Scale: one pass for the time bounds (2 scalars broadcast), one
    grouped profile pass — both map-side partials; the report is 1 row.
    Per-column × per-partition at 100 TB: the same profile agg grouped
    by (day, column) with the flags as a window over consecutive days."""
    e = table(spark, sf_dir, "events")
    bounds = e.agg(F.min("ts").alias("t0"), F.max("ts").alias("t1"))
    tagged = e.crossJoin(F.broadcast(bounds)).select(
        "*",
        F.when(
            F.unix_timestamp("ts") - F.unix_timestamp("t0")
            < (F.unix_timestamp("t1") - F.unix_timestamp("t0")) / 2.0,
            "early",
        )
        .otherwise("late")
        .alias("half"),
    )
    cents = F.round(F.col("value") * 100).cast("long")
    prof = tagged.groupBy("half").agg(
        F.count("*").alias("n"),
        F.round(
            F.sum(F.when(F.col("value").isNull(), 1).otherwise(0))
            / F.count("*").cast("double"),
            6,
        ).alias("null_rate"),
        # the type domain is categorical and small: a set, not a second
        # distinct group (two would plan an Expand in hash order)
        F.size(F.collect_set("event_type")).cast("long").alias("n_types"),
        F.count_distinct("user_id").alias("n_users"),
        F.min(cents).alias("min_cents"),
        F.max(cents).alias("max_cents"),
        F.round(F.sum(cents) / (100.0 * F.count("value")), 4).alias("mean_value"),
    )

    def half(col, h):
        return F.max(F.when(F.col("half") == h, F.col(col)))

    w = prof.agg(
        half("n", "early").alias("n_e"),
        half("n", "late").alias("n_l"),
        half("null_rate", "early").alias("nr_e"),
        half("null_rate", "late").alias("nr_l"),
        half("n_types", "early").alias("ty_e"),
        half("n_types", "late").alias("ty_l"),
        half("n_users", "early").alias("us_e"),
        half("n_users", "late").alias("us_l"),
        half("mean_value", "early").alias("mv_e"),
        half("mean_value", "late").alias("mv_l"),
    )
    return w.select(
        "n_e", "n_l", "nr_e", "nr_l", "ty_e", "ty_l", "us_e", "us_l",
        "mv_e", "mv_l",
        (F.abs(F.col("nr_l") - F.col("nr_e")) > 0.02).alias("null_rate_drift"),
        (F.col("ty_l") != F.col("ty_e")).alias("type_domain_drift"),
        F.when(
            F.col("mv_e") != 0,
            F.abs(F.col("mv_l") - F.col("mv_e")) / F.abs(F.col("mv_e")) > 0.25,
        ).alias("mean_drift"),
    )


# --------------------------------------------------------------------------
# Bounded spatial kNN (round 5 continuation)
# --------------------------------------------------------------------------
@register(
    "q_spatial_knn",
    driver=False,  # §2.4 spatial family (round 5) — pytest oracle
    oracle=_SPATIAL_SQL_PTS
    + """
, pc AS (
  SELECT p.*, dx.v + CAST(floor(plat / 5.0) AS BIGINT) AS cy,
         dy.v + CAST(floor(plon / 5.0) AS BIGINT) AS cx
  FROM pois p,
       (VALUES (-1), (0), (1)) dx(v),
       (VALUES (-1), (0), (1)) dy(v)
), cand AS (
  SELECT t.user_id, t.lat, t.lon, p.poi_id, p.plat, p.plon
  FROM (SELECT user_id, lat, lon,
               CAST(floor(lat / 5.0) AS BIGINT) AS cy,
               CAST(floor(lon / 5.0) AS BIGINT) AS cx
        FROM pts) t
  JOIN pc p ON p.cy = t.cy AND p.cx = t.cx
), scored AS (
  SELECT user_id, poi_id,
         (lat - plat) * (lat - plat) + (lon - plon) * (lon - plon) AS d2,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY (lat - plat) * (lat - plat)
                                     + (lon - plon) * (lon - plon), poi_id) AS rn
  FROM cand
  WHERE (lat - plat) * (lat - plat) + (lon - plon) * (lon - plon) <= 25.0
)
SELECT user_id, CAST(rn AS BIGINT) AS rank, poi_id,
       round(sqrt(d2), 6) AS dist_deg
FROM scored WHERE rn <= 3
""",
)
def q_spatial_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded spatial k-nearest-neighbors: each point's 3 closest POIs
    WITHIN 5° — the radius-bounded kNN variant (store locators,
    coverage checks) that the grid machinery answers EXACTLY: because
    the search radius equals the cell size, the 3×3 candidate ring
    provably contains every POI within the bound, so the per-point rank
    over refined distances is the true bounded-kNN answer (SURVEY §2.4
    spatial family, completing nearest-1 q_spatial_grid_join /
    q_spatial_haversine). Ranks break ties by poi_id; points with fewer
    than 3 in-radius POIs return what exists — the bounded-kNN
    contract. For UNBOUNDED kNN the documented swap is ring-expansion
    (probe 3×3, widen to 5×5 only for points still short of k — the
    standard two-round Sedona pattern).

    Scale: identical to the grid join — equi-join on the cell key with
    a size-gated POI×9 broadcast, WindowGroupLimit-shaped top-3 per
    point."""
    pts = _spatial_pts_cells(spark, sf_dir)
    pc = _poi_cell_arrays(_spatial_pois(spark, sf_dir))
    # r12 (VERDICT r11 #3): the top-3 ranks come from array_sort over the
    # same (d2, poi_id) struct order the row_number used, sliced to 3 and
    # position-exploded (rank = pos + 1) — identical rows, and the
    # per-point window exchange is gone.
    cand = pts.join(broadcast_if_small(pc), ["cy", "cx"])
    scored = F.filter(
        F.transform(
            F.col("pois"),
            lambda e: F.struct(
                (
                    (F.col("lat") - e["plat"]) * (F.col("lat") - e["plat"])
                    + (F.col("lon") - e["plon"]) * (F.col("lon") - e["plon"])
                ).alias("d2"),
                e["poi_id"].alias("poi_id"),
            ),
        ),
        lambda s: s["d2"] <= 25.0,
    )
    top3 = F.slice(F.array_sort(scored), 1, 3)
    return (
        cand.select("user_id", F.posexplode(top3).alias("pos", "s"))
        .select(
            "user_id",
            (F.col("pos") + 1).cast("long").alias("rank"),
            F.col("s.poi_id").alias("poi_id"),
            F.round(F.sqrt(F.col("s.d2")), 6).alias("dist_deg"),
        )
    )


# --------------------------------------------------------------------------
# Degree assortativity (round 5 continuation)
# --------------------------------------------------------------------------
@register(
    "q_assortativity",
    driver=False,  # §2.11 graph family (round 5) — pytest oracle
    oracle=f"""
WITH e0 AS MATERIALIZED (
  -- MATERIALIZED: referenced more than once below; inlined, DuckDB runs
  -- the join once per reference
{_TRADE_EDGES_SQL.format(min_count=120)}
), e AS MATERIALIZED (
  SELECT src AS u, dst AS v FROM e0
  UNION
  SELECT dst, src FROM e0
), deg AS (
  SELECT u, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY u
), ends AS (
  -- one row per DIRECTED half-edge: (deg(u), deg(v)) — the standard
  -- symmetric assortativity census (each undirected edge counted twice,
  -- once per orientation, which is exactly Newman's definition)
  SELECT du.d AS x, dv.d AS y
  FROM e JOIN deg du ON du.u = e.u JOIN deg dv ON dv.u = e.v
), m AS (
  SELECT CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
         CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
  FROM ends
)
SELECT CAST(n AS BIGINT) AS n_half_edges,
       CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
         round(CAST(n * sxy - sx * sy AS DOUBLE)
               / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                  * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6)
       END AS assortativity
FROM m
""",
)
def q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the undirected trade graph: the Pearson
    correlation of endpoint degrees over every directed half-edge —
    Newman's r, positive when hubs attach to hubs (social networks),
    negative for hub-and-spoke topologies (the Internet, and most
    marketplace graphs); the one-number structural summary read next to
    q_clustering_coeff (SURVEY §2.11 graph tier). Degrees are
    exact integer censuses from one groupBy; each half-edge contributes
    an exact (deg_u, deg_v) pair (both orientations — the symmetric
    definition); the correlation assembles from six exact 128-bit
    moments through one shared IEEE tree, NULL when either marginal is
    degenerate (e.g. a regular graph).

    Scale: degree table joins back to the edge list twice on the node
    key — both broadcastable at dimension scale, both plain hash joins
    at web scale (the same two-hop shape as q_clustering_coeff's triangles); the
    moment census is one row. Plain WITH (no RECURSIVE), so the bare
    UNION dedups correctly here."""
    e0 = _trade_edges(spark, sf_dir, 120)
    e = (
        e0.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .union(e0.select(F.col("dst").alias("u"), F.col("src").alias("v")))
        .distinct()
    )
    deg = e.groupBy("u").agg(F.count("*").alias("d"))
    du = deg.select(F.col("u").alias("uu"), F.col("d").alias("x"))
    dv = deg.select(F.col("u").alias("vv"), F.col("d").alias("y"))
    ends = (
        e.join(F.broadcast(du), F.col("u") == F.col("uu"))
        .join(F.broadcast(dv), F.col("v") == F.col("vv"))
        .select("x", "y")
    )
    hi = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    m = ends.agg(
        hi(F.count("*")).alias("n"),
        hi(F.sum("x")).alias("sx"),
        hi(F.sum("y")).alias("sy"),
        hi(F.sum(hi(F.col("x")) * F.col("x"))).alias("sxx"),
        hi(F.sum(hi(F.col("y")) * F.col("y"))).alias("syy"),
        hi(F.sum(hi(F.col("x")) * F.col("y"))).alias("sxy"),
    )
    n = F.col("n")
    vx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = n * F.col("syy") - F.col("sy") * F.col("sy")
    r = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double") / (
        F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double"))
    )
    return m.select(
        n.cast("long").alias("n_half_edges"),
        F.when((vx > 0) & (vy > 0), F.round(r, 6)).alias("assortativity"),
    )


# --------------------------------------------------------------------------
# k-truss decomposition (bounded edge peel, round 6)
# --------------------------------------------------------------------------
@register(
    "q_ktruss",
    driver=False,  # §2.11 graph family — pytest oracle
    oracle=f"""
WITH e0 AS MATERIALIZED (
  -- MATERIALIZED: referenced more than once below; inlined, DuckDB runs
  -- the join once per reference
{_TRADE_EDGES_SQL.format(min_count=120)}
), t1 AS (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v FROM e0
), s1 AS (
  SELECT t.u, t.v, CAST(count(*) AS BIGINT) AS support
  FROM t1 t
  JOIN (SELECT u, v FROM t1 UNION ALL SELECT v, u FROM t1) e1 ON e1.u = t.u
  JOIN (SELECT u, v FROM t1 UNION ALL SELECT v, u FROM t1) e2
    ON e2.u = t.v AND e2.v = e1.v
  GROUP BY t.u, t.v
), t2 AS (
  SELECT u, v FROM s1 WHERE support >= 2
), s2 AS (
  SELECT t.u, t.v, CAST(count(*) AS BIGINT) AS support
  FROM t2 t
  JOIN (SELECT u, v FROM t2 UNION ALL SELECT v, u FROM t2) e1 ON e1.u = t.u
  JOIN (SELECT u, v FROM t2 UNION ALL SELECT v, u FROM t2) e2
    ON e2.u = t.v AND e2.v = e1.v
  GROUP BY t.u, t.v
)
SELECT u, v, support FROM s2 WHERE support >= 2
""",
)
def q_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-truss of the supplier→customer nation graph (SURVEY §2.11 graph
    tier; the EDGE-grained sibling of q_kcore's node peel): keep edges
    that sit in ≥ k−2 = 2 triangles of the surviving subgraph, peel,
    recompute on the induced edges, repeat. Two peel rounds are unrolled
    — the fixture graph reaches its fixpoint in one (a third round is
    pinned as a no-op in pytest, the q_kcore discipline) — and the oracle
    unrolls the identical rounds, so this is exact.

    Edge support is computed WITHOUT materializing triangles: each
    (u<v)-oriented edge joins the symmetric adjacency twice (common
    neighbors of u and v), one count per edge — two hash joins + one agg
    per round. Scale: at web scale the same join runs degree-ordered
    (orient edges low-degree→high) to bound the skew of hub nodes, and
    each round's survivor edge list is a checkpoint cut — identical to
    q_kcore's round-table story; truss peels converge in tens of rounds
    on real graphs."""
    e0 = _trade_edges(spark, sf_dir, 120)
    t = (
        e0.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .distinct()
        .transform(checkpoint, eager=False)
    )

    def peel(t: DataFrame) -> DataFrame:
        sym = t.select("u", "v").unionByName(
            t.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        e1 = sym.select(F.col("u").alias("a1"), F.col("v").alias("w1"))
        e2 = sym.select(F.col("u").alias("a2"), F.col("v").alias("w2"))
        return (
            t.join(e1, t.u == F.col("a1"))
            .join(e2, (t.v == F.col("a2")) & (F.col("w2") == F.col("w1")))
            .groupBy("u", "v")
            .agg(F.count("*").cast("long").alias("support"))
        )

    k = 4
    cur = t
    sup = None
    for _ in range(2):
        sup = peel(cur)
        cur = sup.filter(F.col("support") >= k - 2).select("u", "v").transform(
            checkpoint, eager=False
        )
    return sup.filter(F.col("support") >= k - 2).select("u", "v", "support")


# --------------------------------------------------------------------------
# Katz centrality, integer-quantized (round 6)
# --------------------------------------------------------------------------
@register(
    "q_katz",
    # driver r7→r8; rotated off r9 (VERDICT r8 #1) — q_betweenness keeps the
    # graph family's slot, q_markov_attribution adds the Markov-chain shape
    driver=False,
    oracle=f"""
WITH e0 AS MATERIALIZED (
  -- MATERIALIZED: referenced more than once below; inlined, DuckDB runs
  -- the join once per reference
{_TRADE_EDGES_SQL.format(min_count=120)}
), e AS MATERIALIZED (
  SELECT src AS u, dst AS v FROM e0
  UNION
  SELECT dst, src FROM e0
), x0 AS (
  SELECT DISTINCT u AS node, CAST(1000000 AS BIGINT) AS xm FROM e
), x1 AS (
  SELECT e.u AS node,
         1000000 + CAST(sum(x0.xm) AS BIGINT) // 10 AS xm
  FROM e JOIN x0 ON e.v = x0.node GROUP BY e.u
), x2 AS (
  SELECT e.u AS node,
         1000000 + CAST(sum(x1.xm) AS BIGINT) // 10 AS xm
  FROM e JOIN x1 ON e.v = x1.node GROUP BY e.u
), x3 AS (
  SELECT e.u AS node,
         1000000 + CAST(sum(x2.xm) AS BIGINT) // 10 AS xm
  FROM e JOIN x2 ON e.v = x2.node GROUP BY e.u
)
SELECT node, xm AS katz_micro, round(xm / 1000000.0, 6) AS katz
FROM x3
""",
)
def q_katz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Katz centrality x = Σ_k α^k (Aᵏ1) with α = 0.1 on the nation
    graph, three unrolled power-iteration rounds (SURVEY §2.11 graph
    tier, the attenuation-weighted sibling of q_pagerank). Scores are
    kept in integer MICRO-units with the α-step as exact integer
    division (Σ xm) div 10 — every round is exact int64 arithmetic, so
    the cross-engine result is bit-identical with no accumulated-double
    drift (per-node neighbor sums are unordered; the q_dsir_select
    quantization lesson). The quantization bias is < 1 micro-unit per
    round, documented rather than hidden in rounding.

    Scale: each round is one edge-table join against an |V|-row score
    table + one groupBy — the q_pagerank loop shape; the score table
    broadcasts until |V| outgrows it, then co-bucketing on node id takes
    over (operators/graph.py note)."""
    e0 = _trade_edges(spark, sf_dir, 120)
    e = (
        e0.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .union(e0.select(F.col("dst").alias("u"), F.col("src").alias("v")))
        .distinct()
        .transform(checkpoint, eager=False)
    )
    x = e.select(F.col("u").alias("node")).distinct().withColumn(
        "xm", F.lit(1000000).cast("long")
    )
    for _ in range(3):
        x = (
            e.join(broadcast_if_small(x), e.v == x.node)
            .groupBy("u")
            .agg(
                (
                    F.lit(1000000)
                    + F.expr("cast(sum(xm) as bigint) div 10")
                ).alias("xm")
            )
            .select(F.col("u").alias("node"), "xm")
        )
    return x.select(
        "node",
        F.col("xm").alias("katz_micro"),
        F.round(F.col("xm") / 1000000.0, 6).alias("katz"),
    )


# --------------------------------------------------------------------------
# Item-item collaborative filtering (round 6)
# --------------------------------------------------------------------------
@register(
    "q_item_cf",
    # driver slot since r7 (VERDICT r6 #3): the recsys family's first
    # driver-green row (§2.11 tier)
    oracle="""
WITH bi AS (
  SELECT DISTINCT o_orderkey AS basket, l_partkey AS item
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), norms AS (
  SELECT item, CAST(count(*) AS BIGINT) AS n_b FROM bi GROUP BY item
), co AS (
  SELECT a.item AS i, b.item AS j, CAST(count(*) AS BIGINT) AS c
  FROM bi a JOIN bi b ON a.basket = b.basket AND a.item <> b.item
  GROUP BY a.item, b.item
), scored AS (
  SELECT co.i, co.j, co.c, ni.n_b AS n_i, nj.n_b AS n_j,
         CAST((CAST(co.c AS HUGEINT) * co.c * 1000000000000)
              // (CAST(ni.n_b AS HUGEINT) * nj.n_b) AS BIGINT) AS cos2_p12
  FROM co JOIN norms ni ON co.i = ni.item JOIN norms nj ON co.j = nj.item
), ranked AS (
  SELECT i, j, c, cos2_p12,
         round(sqrt(cos2_p12 / 1000000000000.0), 6) AS cosine,
         row_number() OVER (PARTITION BY i ORDER BY cos2_p12 DESC, j) AS rk
  FROM scored
)
SELECT i AS item, j AS neighbor, c AS n_co, cosine, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= 3
""",
)
def q_item_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering (SURVEY §2.11 recsys tier):
    cosine similarity over basket co-occurrence — cos(i,j) =
    c_ij / √(n_i·n_j) — with top-3 neighbors per item. Ranking compares
    the EXACT scaled rational c²·10¹²/(n_i·n_j) (128-bit widened; c²
    alone reaches 2.25e18 at sf0.01 — past int64/4) so neighbor order
    can never flip on a double ulp; the cosine itself is one sqrt of
    that integer, for display.

    Scale: pair generation is the basket self-join — work is
    Σ_b |basket|² , bounded by the basket-size cap the feed enforces
    upstream; norms broadcast-join the pair table at |items| rows; top-k
    is one WindowGroupLimit per item."""
    from ..session import register_views

    register_views(spark, sf_dir)
    # one lineage cut: bi feeds the norms agg AND both self-join sides —
    # without it the 2-table join + distinct re-executes three times
    bi = spark.sql(
        """
        SELECT DISTINCT o_orderkey AS basket, l_partkey AS item
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        """
    ).transform(checkpoint, eager=False)
    norms = bi.groupBy("item").agg(F.count("*").cast("long").alias("n_b"))
    a = bi.select(F.col("basket"), F.col("item").alias("i"))
    b = bi.select(F.col("basket").alias("b2"), F.col("item").alias("j"))
    co = (
        a.join(b, (a.basket == b.b2) & (F.col("i") != F.col("j")))
        .groupBy("i", "j")
        .agg(F.count("*").cast("long").alias("c"))
    )
    ni = norms.select(F.col("item").alias("i"), F.col("n_b").alias("n_i"))
    nj = norms.select(F.col("item").alias("j"), F.col("n_b").alias("n_j"))
    scored = (
        co.join(broadcast_if_small(ni), "i")
        .join(broadcast_if_small(nj), "j")
        .withColumn(
            "cos2_p12",
            F.expr(
                "cast((cast(c as decimal(38,0)) * c * 1000000000000) "
                "div (cast(n_i as decimal(38,0)) * n_j) as bigint)"
            ),
        )
    )
    w = Window.partitionBy("i").orderBy(F.col("cos2_p12").desc(), "j")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            F.col("i").alias("item"),
            F.col("j").alias("neighbor"),
            F.col("c").alias("n_co"),
            F.round(F.sqrt(F.col("cos2_p12") / 1000000000000.0), 6).alias(
                "cosine"
            ),
            F.col("rk").cast("long").alias("rk"),
        )
    )


# --------------------------------------------------------------------------
# Price-volume mix-shift decomposition (round 7)
# --------------------------------------------------------------------------
@register(
    "q_mix_shift",
    driver=False,  # §2.11 BI decomposition tier beside q_cohort_ltv
    oracle="""
WITH o AS (
  SELECT o_orderpriority AS priority,
         CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS mk,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
), top2 AS (
  SELECT mk, row_number() OVER (ORDER BY mk DESC) AS rk
  FROM (SELECT DISTINCT mk FROM o) QUALIFY rk <= 2
), per AS (
  SELECT priority, rk,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(cents) AS BIGINT) AS rev_c
  FROM o JOIN top2 USING (mk) GROUP BY 1, 2
), piv AS (
  SELECT priority,
         CAST(max(CASE WHEN rk = 2 THEN n END) AS BIGINT) AS n1,
         CAST(max(CASE WHEN rk = 1 THEN n END) AS BIGINT) AS n2,
         CAST(max(CASE WHEN rk = 2 THEN rev_c END) AS BIGINT) AS rev1_c,
         CAST(max(CASE WHEN rk = 1 THEN rev_c END) AS BIGINT) AS rev2_c
  FROM per GROUP BY priority
), eff AS (
  SELECT priority, n1, n2, rev1_c, rev2_c,
         CAST((CAST(n2 - n1 AS HUGEINT) * rev1_c) // n1 AS BIGINT)
           AS volume_eff_c
  FROM piv WHERE n1 IS NOT NULL AND n2 IS NOT NULL AND n1 > 0
)
SELECT priority, n1, n2, rev1_c, rev2_c, volume_eff_c,
       CAST(rev2_c - rev1_c - volume_eff_c AS BIGINT) AS price_eff_c
FROM eff
""",
)
def q_mix_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-volume decomposition of month-over-month revenue change per
    order priority (the two most recent fixture months): with p₁ = rev₁/n₁,
    volume effect = Δn·p₁ and price effect = n₂·Δp — chosen so the two
    effects sum EXACTLY to Δrev (vol + price = Δn·rev₁/n₁ + rev₂ −
    n₂·rev₁/n₁ = rev₂ − rev₁, since n₂ − Δn = n₁), making additivity an
    integer identity instead of a float residual. The volume effect floors
    via 128-bit integer division (q_item_cf widening); the price effect is
    the exact remainder. The every-board-deck "was it traffic or ticket
    size" question (SURVEY §2.11 analytics tier).

    Scale: one (priority, month) rollup shuffle on the pruned two-month
    scan; month selection is a distinct-months window over metadata; the
    pivot is k rows."""
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
        .cast("long")
        .alias("mk"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    top2 = (
        o.select("mk")
        .distinct()
        .withColumn("rk", F.row_number().over(Window.orderBy(F.col("mk").desc())))
        .filter(F.col("rk") <= 2)
    )
    per = (
        o.join(F.broadcast(top2), "mk")
        .groupBy("priority", "rk")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("cents").cast("long").alias("rev_c"),
        )
    )
    piv = per.groupBy("priority").agg(
        F.max(F.when(F.col("rk") == 2, F.col("n"))).cast("long").alias("n1"),
        F.max(F.when(F.col("rk") == 1, F.col("n"))).cast("long").alias("n2"),
        F.max(F.when(F.col("rk") == 2, F.col("rev_c"))).cast("long").alias("rev1_c"),
        F.max(F.when(F.col("rk") == 1, F.col("rev_c"))).cast("long").alias("rev2_c"),
    )
    eff = piv.filter(
        F.col("n1").isNotNull() & F.col("n2").isNotNull() & (F.col("n1") > 0)
    ).withColumn(
        "volume_eff_c",
        F.expr(
            "cast((cast(n2 - n1 as decimal(38,0)) * rev1_c) div n1 as bigint)"
        ),
    )
    return eff.select(
        "priority",
        "n1",
        "n2",
        "rev1_c",
        "rev2_c",
        "volume_eff_c",
        (F.col("rev2_c") - F.col("rev1_c") - F.col("volume_eff_c"))
        .cast("long")
        .alias("price_eff_c"),
    )


# --------------------------------------------------------------------------
# DAU/MAU stickiness (round 7, wave 4)
# --------------------------------------------------------------------------
@register(
    "q_dau_mau",
    driver=False,  # §2.11 engagement analytics beside q_cohort_retention
    oracle="""
WITH ud AS (
  SELECT DISTINCT user_id,
         CAST(year(ts) * 100 + month(ts) AS BIGINT) AS mk,
         CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
  FROM events
), dau AS (
  SELECT mk, day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY 1, 2
), mau AS (
  SELECT mk, CAST(count(DISTINCT user_id) AS BIGINT) AS mau FROM ud GROUP BY 1
)
SELECT d.mk AS month_key,
       CAST(count(*) AS BIGINT) AS n_days,
       CAST(sum(d.dau) AS BIGINT) AS dau_sum,
       CAST(max(m.mau) AS BIGINT) AS mau,
       round(sum(d.dau) * 1.0 / count(*) / max(m.mau), 6) AS stickiness
FROM dau d JOIN mau m ON d.mk = m.mk
GROUP BY d.mk
""",
)
def q_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per month: average daily active users over
    monthly active users — the engagement ratio every consumer-product
    dashboard leads with (SURVEY §2.11 engagement tier beside
    q_cohort_retention / q_rolling_distinct). All counts are exact
    integers (the per-(user, day) dedup happens once, and DAU/MAU both
    derive from it); the one double is the final display ratio, computed
    from identical integers in both engines.

    Scale: the distinct-(user, month, day) contraction is one
    partial+final shuffle and bounds everything after at |users|·|days|;
    DAU and MAU are rollups of the contracted table. The classic mistake
    — approx_count_distinct per day then averaging — loses the exact
    cross-day dedup this formulation keeps."""
    e = table(spark, sf_dir, "events")
    ud = e.select(
        "user_id",
        (F.year("ts") * 100 + F.month("ts")).cast("long").alias("mk"),
        F.date_trunc("day", "ts").alias("day"),
    ).distinct()
    dau = ud.groupBy("mk", "day").agg(F.count("*").cast("long").alias("dau"))
    mau = ud.groupBy("mk").agg(
        F.countDistinct("user_id").cast("long").alias("mau")
    )
    j = dau.join(mau, "mk")
    return j.groupBy(F.col("mk").alias("month_key")).agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("dau").cast("long").alias("dau_sum"),
        F.max("mau").cast("long").alias("mau"),
        F.round(
            F.sum("dau") * 1.0 / F.count("*") / F.max("mau"), 6
        ).alias("stickiness"),
    )
