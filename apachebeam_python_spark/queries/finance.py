"""Financial-audit queries: reconciliation, ABC classes, duplicate invoices.

SURVEY §2.3/§2.11 data-quality tier (next to q_data_quality / q_fk_integrity):
the ledger-grade audits a revenue pipeline runs before publishing — does the
order header total reconcile against its recomputed line items, which parts
carry the revenue (ABC), and which invoices look double-entered.

Engine-parity discipline (auto-memory oracle-parity-gotchas): every money
amount converts to exact integer CENTS per row (the per-row double expression
``ext·(1−disc)·(1+tax)`` is the same IEEE value in both engines — each
multiply is correctly rounded and the tree is identical — and ``round(x·100)``
of a positive double agrees between Spark HALF_UP and DuckDB half-away-from-
zero), so every sum, diff, and bucket decision is exact 64-bit integer math.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import table
from ._registry import register


def _cents(col):
    return F.round(col * 100).cast("long")


# --------------------------------------------------------------------------
# Order-header vs line-item reconciliation census
# --------------------------------------------------------------------------
@register(
    "q_reconciliation",
    driver=False,  # §2.3 data-quality tier — pytest oracle
    oracle="""
WITH recon AS (
  SELECT l_orderkey,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                             * 100) AS BIGINT)) AS BIGINT) AS recon_cents
  FROM lineitem GROUP BY l_orderkey
), j AS (
  SELECT o.o_orderkey,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS total_cents,
         r.recon_cents
  FROM orders o LEFT JOIN recon r ON r.l_orderkey = o.o_orderkey
), b AS (
  SELECT CASE WHEN recon_cents IS NULL THEN 'no_lines'
              WHEN recon_cents = total_cents THEN 'exact'
              WHEN abs(recon_cents - total_cents) <= 100 THEN 'within_dollar'
              ELSE 'larger' END AS bucket,
         coalesce(abs(recon_cents - total_cents), 0) AS adiff
  FROM j
)
SELECT bucket,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(adiff) AS BIGINT) AS sum_abs_diff_cents,
       CAST(max(adiff) AS BIGINT) AS max_abs_diff_cents
FROM b GROUP BY bucket
""",
)
def q_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-vs-detail reconciliation: recompute each order's total from its
    line items (ext·(1−disc)·(1+tax), exact per-row cents) and bucket the
    drift against ``o_totalprice`` — exact match / within a dollar / larger /
    no line items. The double-entry audit every billing pipeline runs; all
    bucket decisions are integer comparisons, identical in both engines.

    Scale: one groupBy shuffle on l_orderkey (partial sums map-side), then a
    same-key join with orders — co-partitioned on the join key, no second
    data-sized shuffle; the bucket census is a k-row rollup."""
    li = table(spark, sf_dir, "lineitem")
    gross = (
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
    )
    recon = li.groupBy("l_orderkey").agg(
        F.sum(_cents(gross)).alias("recon_cents")
    )
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", _cents(F.col("o_totalprice")).alias("total_cents")
    )
    j = o.join(recon, F.col("l_orderkey") == F.col("o_orderkey"), "left")
    adiff = F.coalesce(
        F.abs(F.col("recon_cents") - F.col("total_cents")), F.lit(0)
    )
    bucket = (
        F.when(F.col("recon_cents").isNull(), "no_lines")
        .when(F.col("recon_cents") == F.col("total_cents"), "exact")
        .when(F.abs(F.col("recon_cents") - F.col("total_cents")) <= 100, "within_dollar")
        .otherwise("larger")
    )
    return (
        j.select(bucket.alias("bucket"), adiff.alias("adiff"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("adiff").alias("sum_abs_diff_cents"),
            F.max("adiff").alias("max_abs_diff_cents"),
        )
    )


# --------------------------------------------------------------------------
# ABC revenue classification (cumulative-share tiers)
# --------------------------------------------------------------------------
@register(
    "q_abc_classes",
    driver=False,  # §2.3 analytics tier — pytest oracle
    oracle="""
WITH rev AS (
  SELECT l_partkey,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                       AS BIGINT)) AS BIGINT) AS r
  FROM lineitem GROUP BY l_partkey
), ranked AS (
  SELECT l_partkey, r,
         CAST(sum(r) OVER (ORDER BY r DESC, l_partkey) AS BIGINT) AS cum,
         CAST(sum(r) OVER () AS BIGINT) AS total
  FROM rev
), classed AS (
  SELECT CASE WHEN cum * 100 <= 80 * total THEN 'A'
              WHEN cum * 100 <= 95 * total THEN 'B'
              ELSE 'C' END AS abc_class,
         r, total
  FROM ranked
)
SELECT abc_class,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(r) AS BIGINT) AS rev_cents,
       round(sum(r) / CAST(max(total) AS DOUBLE), 6) AS rev_share
FROM classed GROUP BY abc_class
""",
)
def q_abc_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) classification of parts by discounted revenue: class A
    carries the first 80 % of cumulative revenue, B to 95 %, C the tail.
    Revenue is exact integer cents; the tier boundary is the integer
    comparison cum·100 ≤ tier·total, so class assignment — the part of this
    query a float could flip — never touches a double; only the reported
    share divides. Ties on revenue break by partkey for an engine-identical
    cumulative order. SURVEY §2.3 (window + rollup composition).

    Scale: one data-sized shuffle to the per-part rollup; the cumulative
    window runs over the |part|-sized aggregate (range-partitioned global
    order at 100 TB — the same pattern as equi-depth binning), and
    the class census is 3 rows."""
    li = table(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    rev = li.groupBy("l_partkey").agg(F.sum(_cents(disc)).alias("r"))
    w = Window.orderBy(F.desc("r"), F.asc("l_partkey")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    ranked = rev.select(
        "l_partkey",
        "r",
        F.sum("r").over(w).alias("cum"),
        F.sum("r").over(Window.partitionBy()).alias("total"),
    )
    abc = (
        F.when(F.col("cum") * 100 <= 80 * F.col("total"), "A")
        .when(F.col("cum") * 100 <= 95 * F.col("total"), "B")
        .otherwise("C")
    )
    return (
        ranked.select(abc.alias("abc_class"), "r", "total")
        .groupBy("abc_class")
        .agg(
            F.count("*").alias("n_parts"),
            F.sum("r").alias("rev_cents"),
            F.round(F.sum("r") / F.max("total").cast("double"), 6).alias("rev_share"),
        )
    )


# --------------------------------------------------------------------------
# Duplicate-invoice candidates (same customer, same amount, close dates)
# --------------------------------------------------------------------------
@register(
    "q_duplicate_orders",
    driver=False,  # §2.11 entity-resolution tier — pytest oracle
    oracle="""
WITH o AS (
  SELECT o_orderkey, o_custkey,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         CAST(o_orderdate AS DATE) AS d
  FROM orders
), pairs AS (
  SELECT a.o_custkey AS custkey
  FROM o a JOIN o b
    ON a.o_custkey = b.o_custkey AND a.cents = b.cents
   AND a.o_orderkey < b.o_orderkey
   AND abs(b.d - a.d) <= 7
)
SELECT custkey, CAST(count(*) AS BIGINT) AS n_pairs
FROM pairs GROUP BY custkey
ORDER BY n_pairs DESC, custkey
LIMIT 10
""",
)
def q_duplicate_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-invoice screen: order pairs with the same customer, the
    same exact amount (integer cents), and order dates within 7 days — the
    classic double-billing audit, reported as the top-10 customers by
    candidate-pair count (total order: pairs desc, custkey). SURVEY §2.11
    entity-resolution tier next to q_fuzzy_match / q_sorted_neighborhood.

    Scale: the self-join is BLOCKED on (custkey, cents) — fan-out is
    Σ block², bounded by per-customer order counts like the
    sorted-neighborhood window; never an all-pairs plan. One shuffle on the
    block key, then a TakeOrdered(10) — no global sort materializes."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        _cents(F.col("o_totalprice")).alias("cents"),
        F.col("o_orderdate").cast("date").alias("d"),
    )
    b = o.select(
        F.col("o_orderkey").alias("b_orderkey"),
        F.col("o_custkey").alias("b_custkey"),
        F.col("cents").alias("b_cents"),
        F.col("d").alias("b_d"),
    )
    pairs = o.join(
        b,
        (F.col("o_custkey") == F.col("b_custkey"))
        & (F.col("cents") == F.col("b_cents"))
        & (F.col("o_orderkey") < F.col("b_orderkey"))
        & (F.abs(F.datediff(F.col("b_d"), F.col("d"))) <= 7),
    )
    return (
        pairs.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(F.count("*").alias("n_pairs"))
        .orderBy(F.desc("n_pairs"), F.asc("custkey"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# OHLC bars + VWAP (round 6)
# --------------------------------------------------------------------------
@register(
    "q_ohlc_bars",
    # driver slot since r7 (VERDICT r6 #3): the finance family's first
    # driver-green row
    oracle="""
WITH px AS (
  SELECT event_type,
         CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bar,
         ts, event_id,
         CAST(round(value * 100) AS BIGINT) AS c
  FROM events WHERE value IS NOT NULL
), rn AS (
  SELECT *,
         row_number() OVER (PARTITION BY event_type, bar
                            ORDER BY ts, event_id) AS ra,
         row_number() OVER (PARTITION BY event_type, bar
                            ORDER BY ts DESC, event_id DESC) AS rd
  FROM px
)
SELECT event_type, bar,
       round(max(CASE WHEN ra = 1 THEN c END) / 100.0, 2) AS open,
       round(max(c) / 100.0, 2)                           AS high,
       round(min(c) / 100.0, 2)                           AS low,
       round(max(CASE WHEN rd = 1 THEN c END) / 100.0, 2) AS close,
       CAST(count(*) AS BIGINT)                           AS volume,
       round(CAST(sum(c) AS BIGINT) * 1.0 / count(*) / 100.0, 6) AS vwap
FROM rn GROUP BY event_type, bar
""",
)
def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars + VWAP per event_type — THE market-data rollup
    (SURVEY §2.8 fixed-window tier in its finance shape). Open/close are
    first/last by the deterministic (ts, event_id) total order — computed
    as row_number flags folded into the SAME aggregate pass (no separate
    first/last window scan); high/low/volume/vwap are plain aggregates on
    exact cents.

    Scale: one shuffle on (type, bar); the two row_numbers share its sort.
    Real tick pipelines run this exact plan per symbol-minute — the bar
    key's cardinality (symbols × bars) keeps every partition bounded."""
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    px = e.select(
        "event_type",
        F.date_trunc("hour", "ts").alias("bar"),
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("c"),
    )
    wa = Window.partitionBy("event_type", "bar").orderBy("ts", "event_id")
    wd = Window.partitionBy("event_type", "bar").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    rn = px.select(
        "*",
        F.row_number().over(wa).alias("ra"),
        F.row_number().over(wd).alias("rd"),
    )
    return rn.groupBy("event_type", "bar").agg(
        F.round(F.max(F.when(F.col("ra") == 1, F.col("c"))) / 100.0, 2).alias("open"),
        F.round(F.max("c") / 100.0, 2).alias("high"),
        F.round(F.min("c") / 100.0, 2).alias("low"),
        F.round(F.max(F.when(F.col("rd") == 1, F.col("c"))) / 100.0, 2).alias("close"),
        F.count("*").alias("volume"),
        F.round(F.sum("c") * 1.0 / F.count("*") / 100.0, 6).alias("vwap"),
    )


# --------------------------------------------------------------------------
# Maximum drawdown (round 6)
# --------------------------------------------------------------------------
@register(
    "q_max_drawdown",
    driver=False,  # §2.5 running-extremum window family — pytest oracle
    oracle="""
WITH daily AS (
  SELECT event_type,
         CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS flow_c
  FROM events WHERE value IS NOT NULL
  GROUP BY 1, 2
), eq0 AS (
  SELECT event_type, day,
         sum(flow_c) OVER w AS equity_c
  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), eq AS (
  SELECT event_type, day, equity_c,
         max(equity_c) OVER w2 AS peak_c
  FROM eq0 WINDOW w2 AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_type,
       CAST(max(peak_c - equity_c) AS BIGINT) AS max_drawdown_cents,
       round(max(peak_c - equity_c) / 100.0, 2) AS max_drawdown
FROM eq GROUP BY event_type
""",
)
def q_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per event_type: peak-to-trough fall of the
    cumulative daily cents flow — running sum, running max of it, max gap
    (SURVEY §2.5 frames tier; the risk metric every equity-curve report
    carries, and the q_floored_running_balance trick's mirror image:
    running-EXTREMUM windows turn the sequential-looking scan into plain
    ordered frames). Exact cents integers end to end.

    Scale: one (type) shuffle; both windows share its sort."""
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("flow_c"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    eq = daily.select(
        "event_type", "day", F.sum("flow_c").over(w).alias("equity_c")
    ).select(
        "event_type",
        "day",
        "equity_c",
        F.max("equity_c")
        .over(
            Window.partitionBy("event_type")
            .orderBy("day")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .alias("peak_c"),
    )
    dd = F.col("peak_c") - F.col("equity_c")
    return eq.groupBy("event_type").agg(
        F.max(dd).cast("long").alias("max_drawdown_cents"),
        F.round(F.max(dd) / 100.0, 2).alias("max_drawdown"),
    )


# --------------------------------------------------------------------------
# Realized volatility from daily log returns (round 6)
# --------------------------------------------------------------------------
@register(
    "q_realized_vol",
    driver=False,  # §2.5 time-series finance — pytest oracle
    oracle="""
WITH daily AS (
  SELECT event_type,
         CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS close_c
  FROM events WHERE value IS NOT NULL
  GROUP BY 1, 2
), lagged AS (
  SELECT event_type, close_c, lag(close_c) OVER w AS prev_c
  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)
), ret AS (
  -- both engines drop the SAME rows: lag-NULL AND any non-positive close
  -- on either side of the ratio (ln of a non-positive argument is
  -- NaN/error in DuckDB but a silent NULL in Spark — ADVICE r6)
  SELECT event_type,
         CAST(round(ln(close_c * 1.0 / prev_c) * 1000000) AS BIGINT) AS r_u
  FROM lagged
  WHERE prev_c IS NOT NULL AND prev_c > 0 AND close_c > 0
), mom AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(r_u) AS BIGINT) AS s,
         CAST(sum(CAST(r_u AS HUGEINT) * r_u) AS BIGINT) AS ss
  FROM ret GROUP BY event_type
)
SELECT event_type, n,
       round(s / 1000000.0 / n, 6) AS mean_return,
       round(sqrt((ss - CAST((CAST(s AS HUGEINT) * s) // n AS BIGINT)
                   * 1.0) / (n - 1)) / 1000000.0 * sqrt(252.0), 6)
         AS annualized_vol
FROM mom WHERE n > 1
""",
)
def q_realized_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Annualized realized volatility per event_type — stddev of daily
    log returns × √252 (SURVEY §2.5 time-series tier beside q_bollinger_bands /
    q_ewma). Returns quantize to integer MICRO-units (round(ln(ratio)·1e6)
    — one libm ln per row, identical input ⇒ identical double ⇒ identical
    rounding), so Σr and Σr² are exact int64/128-bit sums and the variance
    uses an exact-integer quotient split: engine drift is impossible until the
    final sqrt. n−1 denominator (sample vol).

    Scale: one (type, day) rollup shuffle + one |days|-row window per
    type; the moments are a partial+final agg."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("close_c"))
    w = Window.partitionBy("event_type").orderBy("day")
    # explicit positivity guard BEFORE the log so Spark and the oracle drop
    # identical rows: F.log returns a silent NULL for non-positive ratios
    # while DuckDB's ln() NaNs/errors — a zero/negative daily flow would
    # otherwise diverge the engines without any visible failure (ADVICE r6)
    lagged = daily.select(
        "event_type", "close_c", F.lag("close_c").over(w).alias("prev_c")
    )
    ret = lagged.filter(
        F.col("prev_c").isNotNull() & (F.col("prev_c") > 0) & (F.col("close_c") > 0)
    ).select(
        "event_type",
        F.round(F.log(F.col("close_c") * 1.0 / F.col("prev_c")) * 1000000)
        .cast("long")
        .alias("r_u"),
    )
    mom = ret.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("r_u").cast("long").alias("s"),
        F.sum(F.col("r_u").cast("decimal(38,0)") * F.col("r_u"))
        .cast("long")
        .alias("ss"),
    )
    q_term = F.expr("cast((cast(s as decimal(38,0)) * s) div n as bigint)")
    return mom.filter(F.col("n") > 1).select(
        "event_type",
        "n",
        F.round(F.col("s") / 1000000.0 / F.col("n"), 6).alias("mean_return"),
        F.round(
            F.sqrt((F.col("ss") - q_term * 1.0) / (F.col("n") - 1))
            / 1000000.0
            * F.sqrt(F.lit(252.0)),
            6,
        ).alias("annualized_vol"),
    )
