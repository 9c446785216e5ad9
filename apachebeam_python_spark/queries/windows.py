"""Analytic window queries (SURVEY.md §2.5), backed by ``operators.windows``."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import windows as W
from ..session import table
from ._registry import register


@register(
    "q_win_running_sum",
    driver=False,  # kept: timed by perfbench, bench.py and PLAN_SHA_BASELINE
    oracle="""
SELECT o_orderkey, o_custkey, o_orderdate,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend
FROM orders
""",
)
def q_win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total per key (ROWS unbounded-preceding frame); 2-decimal
    money summed → exact 2-decimal total, safe to round at 2."""
    o = table(spark, sf_dir, "orders")
    w = W.running(["o_custkey"], [F.col("o_orderdate"), F.col("o_orderkey")])
    return o.select(
        "o_orderkey", "o_custkey", "o_orderdate",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_spend"),
    )


@register(
    "q_win_functions",
    oracle="""
SELECT event_id, user_id, ts,
       CAST(row_number()   OVER w_total AS INTEGER) AS rn,
       CAST(ntile(4)       OVER w_total AS INTEGER) AS quartile,
       CAST(rank()         OVER w_ties  AS INTEGER) AS rnk,
       CAST(dense_rank()   OVER w_ties  AS INTEGER) AS drnk,
       round(percent_rank() OVER w_ties, 6)         AS prank,
       round(cume_dist()    OVER w_ties, 6)         AS cd,
       round(lag(value)  OVER w_total, 2)           AS prev_value,
       round(lead(value) OVER w_total, 2)           AS next_value,
       round(first_value(value) OVER w_total, 2)    AS first_value,
       round(lag(value, 2, 0.0) OVER w_total, 2)    AS prev2_value,
       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run_sum,
       round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6)         AS mavg3
FROM events
WINDOW
  w_total AS (PARTITION BY user_id ORDER BY ts, event_id),
  w_ties  AS (PARTITION BY user_id ORDER BY event_type)
""",
)
def q_win_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete SURVEY §2.5 analytic-window family in ONE driver row
    (q_win_running_sum keeps a benchmarked running-sum-only form): ranking
    (row_number/ntile on the total (user_id, ts) order; rank/dense_rank/
    percent_rank/cume_dist on the ties-allowed event_type order), navigation
    (lag/lead/first + offset with default), and frames (running sum,
    trailing 3-row moving average). One shuffle on user_id serves every
    function — Spark computes all three window specs over the same
    partitioning without re-exchanging."""
    e = table(spark, sf_dir, "events")
    # event_id tiebreaks every ROWS-frame/navigation order: ts alone is a
    # total order only on fixtures with unique per-user timestamps — the
    # sf1.0 replica (and any real event stream) has ts collisions, where
    # row_number/lag/running frames become engine-nondeterministic
    # (round 8, caught by the sf1 parity slice). w_ties stays ties-allowed
    # on purpose: rank/percent_rank/cume_dist are tie-stable by definition.
    w_total = W.over(["user_id"], [F.col("ts"), F.col("event_id")])
    w_ties = W.over(["user_id"], [F.col("event_type")])
    w_run = W.running(["user_id"], [F.col("ts"), F.col("event_id")])
    w_mavg = W.running(["user_id"], [F.col("ts"), F.col("event_id")], preceding=2)
    return e.select(
        "event_id", "user_id", "ts",
        F.row_number().over(w_total).alias("rn"),
        F.ntile(4).over(w_total).alias("quartile"),
        F.rank().over(w_ties).alias("rnk"),
        F.dense_rank().over(w_ties).alias("drnk"),
        F.round(F.percent_rank().over(w_ties), 6).alias("prank"),
        F.round(F.cume_dist().over(w_ties), 6).alias("cd"),
        F.round(F.lag("value").over(w_total), 2).alias("prev_value"),
        F.round(F.lead("value").over(w_total), 2).alias("next_value"),
        F.round(F.first("value").over(w_total), 2).alias("first_value"),
        F.round(F.lag("value", 2, 0.0).over(w_total), 2).alias("prev2_value"),
        F.round(F.sum("value").over(w_run), 2).alias("run_sum"),
        F.round(F.avg("value").over(w_mavg), 6).alias("mavg3"),
    )


# --------------------------------------------------------------------------
# Clamped running balance via the running-min closed form (round 6)
# --------------------------------------------------------------------------
@register(
    "q_floored_running_balance",
    driver=False,  # §2.5 window tier, non-associative recurrence — pytest oracle
    oracle="""
WITH d AS (
  SELECT user_id, event_id, ts,
         CASE WHEN event_type = 'view'
              THEN CAST(round(value * 100) AS BIGINT)
              ELSE -CAST(round(value * 100) AS BIGINT) END AS delta_c
  FROM events WHERE event_type IN ('view', 'click')
), s1 AS (
  SELECT user_id, event_id, ts,
         sum(delta_c) OVER w AS cum_c
  FROM d WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), s AS (
  SELECT user_id, event_id, cum_c,
         min(cum_c) OVER w2 AS low_c
  FROM s1 WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT user_id, event_id,
       CAST(cum_c - least(CAST(0 AS BIGINT), low_c) AS BIGINT) AS balance_cents,
       round((cum_c - least(CAST(0 AS BIGINT), low_c)) / 100.0, 2) AS balance
FROM s
""",
)
def q_floored_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Floored running balance — the wallet/inventory recurrence
    b_i = max(0, b_{i−1} + δ_i) (credits for views, debits for clicks,
    balance can never go negative). The recurrence is NON-associative, so
    it looks like a sequential per-key loop — but the one-sided clamp has
    an exact closed form over plain windows:

        b_i = s_i − min(0, min_{j≤i} s_j)

    where s is the unclamped running sum: the running minimum is exactly
    the total credit the floor injected so far. Two ordered window passes,
    zero UDFs, cents-exact integers (SURVEY §2.5 frames tier; the
    technique that turns many 'must-be-a-loop' state machines back into
    windows — two-sided caps genuinely need the per-key sequential scan,
    which is the applyInPandas fallback documented in scale_notes).

    Scale: both windows share one (user_id) shuffle + one in-partition
    sort; state per key is O(1)."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click")
    )
    cents = F.round(F.col("value") * 100).cast("long")
    d = e.select(
        "user_id",
        "event_id",
        "ts",
        F.when(F.col("event_type") == "view", cents).otherwise(-cents).alias(
            "delta_c"
        ),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s1 = d.select(
        "user_id",
        "event_id",
        "ts",
        F.sum("delta_c").over(w).alias("cum_c"),
    )
    s = s1.select(
        "user_id",
        "event_id",
        "cum_c",
        F.min("cum_c").over(w).alias("low_c"),
    )
    bal_c = F.col("cum_c") - F.least(F.lit(0).cast("long"), F.col("low_c"))
    return s.select(
        "user_id",
        "event_id",
        bal_c.cast("long").alias("balance_cents"),
        F.round(bal_c / 100.0, 2).alias("balance"),
    )
