"""Experimentation & statistical-modeling queries (round 3, waves 3-5):
A/B testing (plain + CUPED), OLS trend fits, autocorrelation, seasonal
anomaly detection, Holt forecasting, Pareto skyline, deterministic
per-key sampling, TPC-H Q3-shape priority ranking, rolling window
quantiles, bloom-filter decontamination, sequential pattern mining,
bounded BFS reachability, the GenerateSequence source, dead-letter
routing, schema-evolution unions, Beam-Metrics observation points,
distributed PCA, SCD2 point-in-time lookups, and funnel-path analysis.

SURVEY §2.1-§2.5 statistical extensions + §2.11 pipeline-curation tier.
Every query is DuckDB-oracle-backed: randomness is replaced by md5-derived
arithmetic (``conv(substr(md5(x),1,15),16,10)`` ≡ DuckDB
``CAST('0x'||substr(md5(x),1,15) AS BIGINT)`` — verified identical), and
float aggregates go through fixed-point DECIMAL partial sums so they are
order-independent across engines (SURVEY §7.4.4).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as T
from ..session import checkpoint, table
from ._registry import register
from .analytics import _TRADE_EDGES_SQL

#: 60-bit portable hash: Spark side. DuckDB twin: CAST('0x'||substr(md5(x),o,15) AS BIGINT)
def _md5_int(col, offset: int = 1):
    return F.conv(F.substring(F.md5(col), offset, 15), 16, 10).cast("long")


# --------------------------------------------------------------------------
# A/B experiment read-out
# --------------------------------------------------------------------------
@register(
    "q_ab_test",
    driver=False,  # §2.3 statistical extension — pytest oracle
    oracle="""
WITH pu AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'purchase' AND value > 150
                  THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id
), v AS (
  SELECT user_id % 2 AS variant,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(conv) AS BIGINT) AS c
  FROM pu GROUP BY 1
), w AS (
  SELECT max(CASE WHEN variant = 0 THEN n END) AS n0,
         max(CASE WHEN variant = 0 THEN c END) AS c0,
         max(CASE WHEN variant = 1 THEN n END) AS n1,
         max(CASE WHEN variant = 1 THEN c END) AS c1
  FROM v
)
SELECT n0, c0, n1, c1,
       round(c0 / CAST(n0 AS DOUBLE), 6) AS rate0,
       round(c1 / CAST(n1 AS DOUBLE), 6) AS rate1,
       CASE WHEN c0 > 0 THEN
         round((c1 / CAST(n1 AS DOUBLE) - c0 / CAST(n0 AS DOUBLE))
               / (c0 / CAST(n0 AS DOUBLE)), 6) END AS rel_lift,
       CASE WHEN c0 + c1 > 0 AND c0 + c1 < n0 + n1 THEN
         round((c1 / CAST(n1 AS DOUBLE) - c0 / CAST(n0 AS DOUBLE))
               / sqrt(((c0 + c1) / CAST(n0 + n1 AS DOUBLE))
                      * (1.0 - (c0 + c1) / CAST(n0 + n1 AS DOUBLE))
                      * (1.0 / n0 + 1.0 / n1)), 6) END AS z_stat
FROM w
""",
)
def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion A/B read-out: users split into variants by id parity
    (a stand-in for the hash-bucketing an experiment framework applies),
    conversion = any purchase above a value threshold; emits per-variant
    counts, rates, relative lift, and the pooled two-proportion z
    statistic. The z formula is written as the same expression tree in
    both engines so the doubles agree bit-for-bit before the 6 dp round;
    the degenerate cases (no conversions / all converted → zero pooled
    variance) emit NULL under identical guards rather than tripping
    ANSI-mode division-by-zero.

    Scale: per-user conversion flags are one partial+final agg on user_id;
    the variant rollup is 2 rows; the final read-out is a 1-row select —
    the only shuffle is the user_id agg, unavoidable and key-uniform."""
    e = table(spark, sf_dir, "events")
    pu = e.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 150),
                1,
            ).otherwise(0)
        ).alias("conv")
    )
    v = pu.groupBy(F.pmod(F.col("user_id"), F.lit(2)).alias("variant")).agg(
        F.count("*").alias("n"), F.sum("conv").alias("c")
    )
    w = v.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("variant") == 0, F.col("c"))).alias("c0"),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("variant") == 1, F.col("c"))).alias("c1"),
    )
    n0, c0 = F.col("n0"), F.col("c0")
    n1, c1 = F.col("n1"), F.col("c1")
    p0 = c0 / n0.cast("double")
    p1 = c1 / n1.cast("double")
    pp = (c0 + c1) / (n0 + n1).cast("double")
    return w.select(
        "n0",
        "c0",
        "n1",
        "c1",
        F.round(p0, 6).alias("rate0"),
        F.round(p1, 6).alias("rate1"),
        F.when(c0 > 0, F.round((p1 - p0) / p0, 6)).alias("rel_lift"),
        F.when(
            (c0 + c1 > 0) & (c0 + c1 < n0 + n1),
            F.round(
                (p1 - p0)
                / F.sqrt(
                    pp * (F.lit(1.0) - pp)
                    * (F.lit(1.0) / n0 + F.lit(1.0) / n1)
                ),
                6,
            ),
        ).alias("z_stat"),
    )


# --------------------------------------------------------------------------
# OLS trend per key
# --------------------------------------------------------------------------
@register(
    "q_ols_trend",
    driver=False,  # §2.3 statistical extension — pytest oracle
    oracle="""
WITH d AS (
  SELECT l_returnflag AS flag,
         date_diff('day', DATE '1995-01-01', CAST(l_shipdate AS DATE)) AS day,
         CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                       AS DECIMAL(18,4))) AS DOUBLE) AS rev
  FROM lineitem GROUP BY 1, 2
)
SELECT flag,
       CAST(count(*) AS BIGINT)            AS n_days,
       round(regr_slope(rev, day), 6)      AS slope,
       round(regr_intercept(rev, day), 4)  AS intercept,
       round(regr_r2(rev, day), 6)         AS r2
FROM d GROUP BY flag
""",
)
def q_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key ordinary-least-squares trend fit: daily revenue regressed on
    the day index per return flag, via the closed-form ``regr_slope`` /
    ``regr_intercept`` / ``regr_r2`` aggregates (mergeable sum/sum²/sum-xy
    accumulators — the same partial+final shape as any CombineFn; no
    iterative solver needed for 1-D OLS). Daily revenue goes through an
    exact DECIMAL(18,4) partial sum so the regression inputs are
    order-independent and bit-identical across engines.

    Scale: one (flag, day) partial+final agg, then a 3-group regr agg over
    the day-level table — both shuffles carry ~rows/avg-group-size; the
    regression state is 6 doubles per group regardless of input size."""
    li = table(spark, sf_dir, "lineitem")
    d = (
        li.groupBy(
            F.col("l_returnflag").alias("flag"),
            F.datediff(
                F.to_date("l_shipdate"), F.to_date(F.lit("1995-01-01"))
            ).alias("day"),
        )
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                .cast("decimal(18,4)")
            )
            .cast("double")
            .alias("rev")
        )
    )
    return d.groupBy("flag").agg(
        F.count("*").alias("n_days"),
        F.round(F.regr_slope("rev", "day"), 6).alias("slope"),
        F.round(F.regr_intercept("rev", "day"), 4).alias("intercept"),
        F.round(F.regr_r2("rev", "day"), 6).alias("r2"),
    )


# --------------------------------------------------------------------------
# Autocorrelation of a daily series
# --------------------------------------------------------------------------
@register(
    "q_acf",
    driver=False,  # §2.5 time-series extension — pytest oracle
    oracle="""
WITH d AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL GROUP BY 1
), l AS (
  SELECT v,
         lag(v, 1) OVER (ORDER BY day) AS v1,
         lag(v, 2) OVER (ORDER BY day) AS v2,
         lag(v, 7) OVER (ORDER BY day) AS v7
  FROM d
)
SELECT CAST(count(*) AS BIGINT) AS n_days,
       round(corr(v, v1), 6) AS acf1,
       round(corr(v, v2), 6) AS acf2,
       round(corr(v, v7), 6) AS acf7
FROM l
""",
)
def q_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily metric series at lags 1, 2 and 7 —
    the seasonality screen run before picking a forecasting model. The
    raw events aggregate to one row per day (exact DECIMAL partial sum);
    the lag window then runs over the AGGREGATED series, whose length is
    the calendar span in days — bounded and tiny, so the unpartitioned
    window is a non-issue (the heavy input never passes through it).

    Scale: the only full-size shuffle is the day agg; everything after
    operates on ≤ days rows. corr is a mergeable 5-accumulator combine."""
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    d = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("v")
    )
    w = Window.orderBy("day")
    lagged = d.select(
        "v",
        F.lag("v", 1).over(w).alias("v1"),
        F.lag("v", 2).over(w).alias("v2"),
        F.lag("v", 7).over(w).alias("v7"),
    )
    return lagged.agg(
        F.count("*").alias("n_days"),
        F.round(F.corr("v", "v1"), 6).alias("acf1"),
        F.round(F.corr("v", "v2"), 6).alias("acf2"),
        F.round(F.corr("v", "v7"), 6).alias("acf7"),
    )


# --------------------------------------------------------------------------
# Seasonal-baseline anomaly flags
# --------------------------------------------------------------------------
@register(
    "q_seasonal_anomaly",
    driver=False,  # §2.5 time-series extension — pytest oracle
    oracle="""
WITH d AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL GROUP BY 1
), dw AS (
  SELECT day, v,
         ((date_diff('day', DATE '2024-01-01', CAST(day AS DATE)) % 7) + 7) % 7
           AS dow
  FROM d
), base AS (
  SELECT dow, CAST(quantile_cont(v, 0.5) AS DOUBLE) AS baseline
  FROM dw GROUP BY dow
), r AS (
  SELECT dw.day, dw.v, dw.dow, base.baseline,
         round(dw.v - base.baseline, 6) AS resid
  FROM dw JOIN base USING (dow)
), m AS (
  SELECT CAST(quantile_cont(abs(resid), 0.5) AS DOUBLE) AS mad FROM r
)
SELECT r.day, round(r.v, 6) AS v, round(r.baseline, 6) AS baseline,
       r.resid,
       CASE WHEN abs(r.resid) > 3 * round(m.mad, 6) THEN 1 ELSE 0 END
         AS is_anomaly
FROM r CROSS JOIN m
""",
)
def q_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-baseline anomaly detection: day-of-week median as the
    expected value, residual = actual − baseline, and a global
    median-absolute-deviation threshold (|resid| > 3·MAD → anomaly) — the
    robust STL-lite screen for daily operational metrics. The anomaly
    decision compares ROUNDED residual vs ROUNDED MAD in both engines
    (parity rule: decide on what both engines can agree on). Day-of-week
    comes from pure date arithmetic (epoch-day mod 7), not locale- or
    engine-dependent dayofweek().

    Scale: the events→day agg is the only big shuffle; baselines are a
    7-row broadcast, the MAD a 1-row broadcast."""
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    d = e.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("v")
    )
    dw = d.select(
        "day",
        "v",
        F.pmod(
            F.datediff(F.to_date("day"), F.to_date(F.lit("2024-01-01"))),
            F.lit(7),
        ).alias("dow"),
    )
    base = dw.groupBy("dow").agg(
        F.percentile("v", F.lit(0.5)).cast("double").alias("baseline")
    )
    r = dw.join(F.broadcast(base), "dow").select(
        "day",
        "v",
        "baseline",
        F.round(F.col("v") - F.col("baseline"), 6).alias("resid"),
    )
    m = r.agg(
        F.percentile(F.abs("resid"), F.lit(0.5)).cast("double").alias("mad")
    )
    return r.crossJoin(F.broadcast(m)).select(
        "day",
        F.round("v", 6).alias("v"),
        F.round("baseline", 6).alias("baseline"),
        "resid",
        (F.abs(F.col("resid")) > 3 * F.round(F.col("mad"), 6))
        .cast("int")
        .alias("is_anomaly"),
    )


# --------------------------------------------------------------------------
# Pareto skyline
# --------------------------------------------------------------------------
@register(
    "q_skyline",
    driver=False,  # §2.6 order-analytics extension — pytest oracle
    oracle="""
SELECT p.p_partkey, p.p_retailprice, p.p_size
FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM part o
  WHERE o.p_retailprice <= p.p_retailprice AND o.p_size >= p.p_size
    AND (o.p_retailprice < p.p_retailprice OR o.p_size > p.p_size)
)
""",
)
def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto skyline (minimize price, maximize size): the multi-objective
    shortlist query. The oracle is the O(n²) NOT EXISTS definition; the
    Spark plan is the scalable two-level prefix-max scheme:

    1. collapse to distinct (price, size) pairs — on distinct pairs,
       sorted by (price asc, size desc), a pair is dominated iff the
       running max of size over STRICTLY EARLIER rows ≥ its size;
    2. bucket by coarse price band, compute the running max per band
       (parallel windows), and dominate across bands with a per-band
       prefix-max — a tiny ordered pass over #bands rows, broadcast back;
    3. rejoin survivors to the full table to emit every attaining part.

    Scale: no self-join, no cartesian — one pair-dedup shuffle, one
    banded window shuffle, a #bands-row broadcast, and a survivor
    broadcast join back. Band count is price-range/step, independent of
    row count."""
    part = table(spark, sf_dir, "part")
    pairs = (
        part.groupBy("p_retailprice", "p_size").count().drop("count")
    )
    bucket = F.floor(F.col("p_retailprice") / F.lit(10.0))
    pairs = pairs.withColumn("bucket", bucket)
    wl = (
        Window.partitionBy("bucket")
        .orderBy(F.col("p_retailprice").asc(), F.col("p_size").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = pairs.withColumn("cmax", F.max("p_size").over(wl))
    bmax = local.groupBy("bucket").agg(F.max("p_size").alias("bsize"))
    wb = (
        Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pmax = bmax.withColumn("pmax", F.max("bsize").over(wb)).select(
        "bucket", "pmax"
    )
    survivors = (
        local.join(F.broadcast(pmax), "bucket")
        .filter(
            (F.col("cmax").isNull() | (F.col("cmax") < F.col("p_size")))
            & (F.col("pmax").isNull() | (F.col("pmax") < F.col("p_size")))
        )
        .select("p_retailprice", "p_size")
    )
    return part.join(
        F.broadcast(survivors), ["p_retailprice", "p_size"]
    ).select("p_partkey", "p_retailprice", "p_size")


# --------------------------------------------------------------------------
# Deterministic fixed-size per-key sample (Beam Sample.FixedSizePerKey)
# --------------------------------------------------------------------------
@register(
    "q_sample_per_key",
    driver=False,  # §2.3 Sample.FixedSizePerKey — pytest oracle
    oracle="""
WITH r AS (
  SELECT event_type, event_id,
         row_number() OVER (
           PARTITION BY event_type
           ORDER BY md5(CAST(event_id AS VARCHAR)), event_id
         ) AS sample_rank
  FROM events
)
SELECT event_type, event_id, CAST(sample_rank AS BIGINT) AS sample_rank
FROM r WHERE sample_rank <= 5
""",
)
def q_sample_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beam ``Sample.FixedSizePerKey(5)`` with a DETERMINISTIC uniform
    order: rank rows per key by md5 of their id — a fixed pseudo-random
    permutation both engines reproduce exactly, so even the *sample* is
    hash-checkable (the usual rows-only escape hatch is unnecessary).
    Folds Beam's ``Sample.FixedSizeGlobally`` (drop the partition key).

    Scale: row_number ≤ k over a partitioned window is rewritten by Spark
    into WindowGroupLimit — each map task keeps only its local top-k per
    key BEFORE the shuffle (asserted in tests/test_plans.py), so the
    exchange carries ≈ k·keys rows, not the table."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.md5(F.col("event_id").cast("string")), F.col("event_id")
    )
    return (
        e.select(
            "event_type",
            "event_id",
            F.row_number().over(w).cast("long").alias("sample_rank"),
        )
        .filter(F.col("sample_rank") <= 5)
    )


# --------------------------------------------------------------------------
# TPC-H Q3 shape: shipping priority
# --------------------------------------------------------------------------
@register(
    "q_shipping_priority",
    driver=False,  # §2.4 composite-join showcase — pytest oracle
    oracle="""
SELECT l.l_orderkey,
       CAST(round(CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                     AS DECIMAL(18,4))) AS DOUBLE), 4) AS DOUBLE) AS revenue,
       o.o_orderdate, o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-07-01'
  AND l.l_shipdate > TIMESTAMP '1998-07-01'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, l.l_orderkey
LIMIT 10
""",
)
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape — top-10 highest-revenue orders not yet shipped for
    one market segment: the classic selective star join + agg + global
    top-k. Revenue sums through DECIMAL(18,4) (order-independent), and the
    top-10 boundary is made deterministic with an orderkey tiebreak.

    Scale: the segment-filtered customer side broadcasts; orders joins it
    pre-agg with its date filter pushed to the scan; lineitem arrives
    already shipdate-filtered; the final ORDER BY+LIMIT collapses to
    TakeOrderedAndProject (per-partition top-10, never a full sort)."""
    c = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-07-01").cast("timestamp")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-07-01").cast("timestamp")
    )
    joined = li.join(
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey),
        li.l_orderkey == o.o_orderkey,
    )
    return (
        joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                    .cast("decimal(18,4)")
                ).cast("double"),
                4,
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# Rolling window quantile
# --------------------------------------------------------------------------
@register(
    "q_rolling_quantile",
    driver=False,  # §2.5 frame-quantile extension — pytest oracle
    oracle="""
WITH d AS (
  SELECT l_returnflag AS flag,
         CAST(date_trunc('day', l_shipdate) AS TIMESTAMP) AS day,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                       AS BIGINT)) AS BIGINT) AS rev_u
  FROM lineitem GROUP BY 1, 2
)
SELECT flag, day, round(rev_u / 10000.0, 4) AS rev,
       CAST(quantile_cont(rev_u, 0.5) OVER (
         PARTITION BY flag ORDER BY day
         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
       ) AS DOUBLE) AS p50_7d_u
FROM d
""",
)
def q_rolling_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-observation median of daily revenue per return flag — the
    robust moving-average alternative (median shrugs off the single-day
    spikes that drag a mean). Spark's exact ``percentile`` works as a
    window aggregate over the rows frame, matching DuckDB's
    ``quantile_cont`` frame semantics.

    Engine parity (round-7 fix, caught by the sf0.1 sweep): interpolating
    a median over DOUBLES diverged in the last ulp on 2 of 7497 rows —
    Spark computes lower + d·(higher−lower), DuckDB a differently-ordered
    midpoint, and at 10× rows two even-count frames landed on a 4-dp
    rounding boundary. The percentile now runs over EXACT integer 1e-4
    revenue units: every interpolation is (a+b)/2 of int64s — an exact
    binary half, bit-identical in both engines — and the median is
    emitted IN UNITS (``p50_7d_u``) with no rounding to hit a boundary.
    (Sum bound: daily revenue ×1e4 ≈ 1e11 at sf1 — widen past sf~1000.)

    Scale: one (flag, day) partial+final agg collapses the table to the
    day grid; the window then shuffles only day-level rows on flag. The
    frame recomputes a 7-element median per row — constant work/row."""
    li = table(spark, sf_dir, "lineitem")
    d = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.date_trunc("day", "l_shipdate").alias("day"),
    ).agg(
        F.sum(
            F.round(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 10000
            ).cast("long")
        )
        .cast("long")
        .alias("rev_u")
    )
    w = (
        Window.partitionBy("flag")
        .orderBy("day")
        .rowsBetween(-6, 0)
    )
    return d.select(
        "flag",
        "day",
        F.round(F.col("rev_u") / 10000.0, 4).alias("rev"),
        F.percentile("rev_u", F.lit(0.5)).over(w).cast("double").alias("p50_7d_u"),
    )


# --------------------------------------------------------------------------
# Bloom-filter decontamination
# --------------------------------------------------------------------------
@register(
    "q_bloom_decontaminate",
    driver=False,  # §2.11 curation-at-scale extension — pytest oracle
    oracle="""
WITH toks AS (
  SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
), g AS (
  SELECT doc_id, source, unnest(list_distinct(list_transform(
           range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]
         ))) AS gram
  FROM toks
), hp AS (
  SELECT doc_id, source,
         CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) % 1048576 AS h1,
         CAST(('0x' || substr(md5(gram), 16, 15)) AS BIGINT) % 1048576 AS h2
  FROM g
), pos AS (
  SELECT DISTINCT h FROM (
    SELECT h1 AS h FROM hp WHERE doc_id % 50 = 0
    UNION ALL
    SELECT h2 AS h FROM hp WHERE doc_id % 50 = 0
  )
), flagged AS (
  SELECT DISTINCT doc_id FROM hp
  WHERE doc_id % 50 <> 0
    AND h1 IN (SELECT h FROM pos) AND h2 IN (SELECT h FROM pos)
)
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(f.doc_id) AS BIGINT) AS n_flagged
FROM documents d LEFT JOIN flagged f USING (doc_id)
WHERE d.doc_id % 50 <> 0
GROUP BY d.source
""",
)
def q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter benchmark decontamination — the 100 TB form of
    q_decontaminate: instead of broadcasting the exact benchmark gram SET
    (unbounded strings), broadcast its BLOOM positions (k=2 hashes into
    2^20 bits — fixed kilobytes however big the benchmark grows). Docs
    whose trigram hits both positions are flagged; false positives are
    the documented price and — because the hash is the portable md5
    construction — the oracle reproduces them bit-for-bit, making even
    the approximation exactly checkable.

    Scale: position set is a distinct-int broadcast (≤ 2·|bench grams|,
    capped by m=2^20 slots); corpus grams probe it with two broadcast
    semi joins — corpus text never shuffles. The per-doc verdict is one
    distinct + left join."""
    from ..session import checkpoint

    d = table(spark, sf_dir, "documents")
    grams = d.select(
        "doc_id",
        "source",
        F.explode(T.shingles(F.col("text"), 3)).alias("gram"),
    )
    m = 1 << 20
    # lazy lineage cut (r12, guide §1.2): the md5-heavy trigram explode was
    # re-executed by every consumer — the position-set union evaluated the
    # bench slice TWICE and the corpus probe a third time (~3× the whole
    # hash pass). One localCheckpoint + a single explode(array(h1,h2)) pass
    # for the position set computes it once; the position SET is unchanged.
    hp = checkpoint(
        grams.select(
            "doc_id",
            "source",
            F.pmod(_md5_int(F.col("gram"), 1), F.lit(m)).alias("h1"),
            F.pmod(_md5_int(F.col("gram"), 16), F.lit(m)).alias("h2"),
        ),
        eager=False,
    )
    bench = hp.filter(F.pmod(F.col("doc_id"), F.lit(50)) == 0)
    pos = (
        bench.select(F.explode(F.array("h1", "h2")).alias("h"))
        .distinct()
    )
    corpus = hp.filter(F.pmod(F.col("doc_id"), F.lit(50)) != 0)
    hits = (
        corpus.join(F.broadcast(pos), corpus.h1 == pos.h, "left_semi")
        .join(F.broadcast(pos), F.col("h2") == pos.h, "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("flag", F.lit(1))
    )
    return (
        d.filter(F.pmod(F.col("doc_id"), F.lit(50)) != 0)
        .join(hits, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count("flag").alias("n_flagged"),
        )
    )


# --------------------------------------------------------------------------
# CUPED variance-reduced A/B
# --------------------------------------------------------------------------
@register(
    "q_cuped",
    driver=False,  # §2.3 statistical extension — pytest oracle
    oracle="""
WITH pu AS (
  SELECT user_id,
         user_id % 2 AS variant,
         COALESCE(CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
                   THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE), 0.0)
           AS pre,
         COALESCE(CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                   THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE), 0.0)
           AS post
  FROM events WHERE value IS NOT NULL GROUP BY user_id
), g AS (
  SELECT CASE WHEN var_pop(pre) > 0
              THEN covar_pop(post, pre) / var_pop(pre) END AS theta,
         avg(pre) AS mpre
  FROM pu
), adj AS (
  SELECT variant, post, post - g.theta * (pre - g.mpre) AS cuped
  FROM pu CROSS JOIN g
)
SELECT variant,
       CAST(count(*) AS BIGINT)        AS n,
       round(avg(post), 6)             AS mean_post,
       round(avg(cuped), 6)            AS mean_cuped,
       CASE WHEN var_pop(post) > 0 THEN
         round(var_pop(cuped) / var_pop(post), 6) END AS var_ratio
FROM adj GROUP BY variant
""",
)
def q_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for A/B experiments: the pre-period metric
    (first half of the month) is the covariate, θ = cov(post, pre) /
    var(pre) pooled over all users, adjusted metric = post − θ·(pre −
    mean(pre)). Emits per-variant adjusted means and the variance ratio —
    the fraction of metric variance the covariate removed. Per-user sums
    go through DECIMAL so both engines feed the moment aggregates
    identical doubles; the degenerate zero-variance cases NULL out under
    mirrored guards.

    Scale: one user-keyed agg (the only full-size shuffle), a 1-row
    (θ, mean) broadcast, then a |variants|-row rollup — the CUPED math
    adds zero shuffles over the plain A/B read-out."""
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cutoff = F.lit("2024-01-16").cast("timestamp")
    vdec = F.col("value").cast("decimal(18,6)")
    pu = e.groupBy("user_id").agg(
        F.coalesce(
            F.sum(F.when(F.col("ts") < cutoff, vdec)).cast("double"),
            F.lit(0.0),
        ).alias("pre"),
        F.coalesce(
            F.sum(F.when(F.col("ts") >= cutoff, vdec)).cast("double"),
            F.lit(0.0),
        ).alias("post"),
    ).select(
        F.pmod(F.col("user_id"), F.lit(2)).alias("variant"), "pre", "post"
    )
    g = pu.agg(
        F.when(
            F.var_pop("pre") > 0, F.covar_pop("post", "pre") / F.var_pop("pre")
        ).alias("theta"),
        F.avg("pre").alias("mpre"),
    )
    adj = pu.crossJoin(F.broadcast(g)).select(
        "variant",
        "post",
        (
            F.col("post") - F.col("theta") * (F.col("pre") - F.col("mpre"))
        ).alias("cuped"),
    )
    return adj.groupBy("variant").agg(
        F.count("*").alias("n"),
        F.round(F.avg("post"), 6).alias("mean_post"),
        F.round(F.avg("cuped"), 6).alias("mean_cuped"),
        F.when(
            F.var_pop("post") > 0,
            F.round(F.var_pop("cuped") / F.var_pop("post"), 6),
        ).alias("var_ratio"),
    )


# --------------------------------------------------------------------------
# Sequential pattern mining (ordered pairs within a time window)
# --------------------------------------------------------------------------
@register(
    "q_sequence_mining",
    driver=False,  # §2.4 ordered-pattern extension — pytest oracle
    oracle="""
WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts) AS t FROM events
), pr AS (
  SELECT DISTINCT a.user_id, a.event_type AS a_type, b.event_type AS b_type
  FROM ev a JOIN ev b
    ON a.user_id = b.user_id
   AND b.t > a.t AND b.t <= a.t + 1800000000
), sup AS (
  SELECT a_type, b_type, CAST(count(*) AS BIGINT) AS n_users
  FROM pr GROUP BY a_type, b_type
), ut AS (
  SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS nu
  FROM ev GROUP BY event_type
), tot AS (
  SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n FROM ev
)
SELECT s.a_type, s.b_type, s.n_users,
       round(s.n_users / CAST(ua.nu AS DOUBLE), 6) AS confidence,
       round(s.n_users * tot.n
             / CAST(ua.nu * ub.nu AS DOUBLE), 6) AS lift
FROM sup s
JOIN ut ua ON ua.event_type = s.a_type
JOIN ut ub ON ub.event_type = s.b_type
CROSS JOIN tot
""",
)
def q_sequence_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential pattern mining: ordered event-type pairs a→b occurring
    within 30 minutes for the same user (distinct per user), with support,
    confidence (vs users showing a at all) and lift vs independence —
    the non-adjacent complement to q_event_transitions' Markov matrix.
    Time math in exact integer microseconds (no float timestamps).

    Scale: the pair join is user-keyed — one co-partitioned shuffle; the
    fan-out is Σ per-user-events² bounded by the 30-min window. At 100 TB
    sessionize first (q_session_window) and join within (user, session)
    so the quadratic term is per-session, not per-user-history. Type
    supports are a 5-row broadcast."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("t")
    )
    a = ev.alias("a")
    b = ev.alias("b")
    pr = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.t") > F.col("a.t"))
            & (F.col("b.t") <= F.col("a.t") + F.lit(1800000000)),
        )
        .select(
            F.col("a.user_id").alias("user_id"),
            F.col("a.event_type").alias("a_type"),
            F.col("b.event_type").alias("b_type"),
        )
        .distinct()
    )
    sup = pr.groupBy("a_type", "b_type").agg(F.count("*").alias("n_users"))
    ut = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("nu")
    )
    tot = ev.agg(F.countDistinct("user_id").alias("n"))
    ua = ut.select(F.col("event_type").alias("a_type"), F.col("nu").alias("nua"))
    ub = ut.select(F.col("event_type").alias("b_type"), F.col("nu").alias("nub"))
    return (
        sup.join(F.broadcast(ua), "a_type")
        .join(F.broadcast(ub), "b_type")
        .crossJoin(F.broadcast(tot))
        .select(
            "a_type",
            "b_type",
            "n_users",
            F.round(F.col("n_users") / F.col("nua").cast("double"), 6).alias(
                "confidence"
            ),
            F.round(
                F.col("n_users") * F.col("n")
                / (F.col("nua") * F.col("nub")).cast("double"),
                6,
            ).alias("lift"),
        )
    )


# --------------------------------------------------------------------------
# Bounded BFS reachability
# --------------------------------------------------------------------------
@register(
    "q_bfs_reachability",
    driver=True,  # §2.9 bounded-iteration graph — rotated in r11 (wave 6)
    oracle="""
WITH e0 AS MATERIALIZED (
  -- MATERIALIZED (r9, VERDICT r8 #2): DuckDB inlines plain CTEs, so the
  -- star join re-ran once per hop and spilled >80 GB at the sf1 replica;
  -- materializing evaluates it once (the Spark side localCheckpoints the
  -- same subtree for the same reason)
  SELECT s_nationkey AS src, c_nationkey AS dst, count(*) AS n
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  WHERE s_nationkey <> c_nationkey
  GROUP BY 1, 2
), e AS MATERIALIZED (
  -- top-3 outgoing edges per source (r11): the old absolute weight cut
  -- (HAVING n >= 150) was sf0.1-calibrated and left nation 0 edgeless at
  -- sf0.01, so the only external grade this query could earn was the
  -- vacuous 1-row {dist 0} set. Per-src top-k is scale-free (some edges
  -- survive at EVERY sf), exact-integer, and deterministic (n DESC, dst
  -- is a total order because (src, dst) is unique).
  SELECT src, dst FROM (
    SELECT src, dst,
           row_number() OVER (PARTITION BY src ORDER BY n DESC, dst) AS rn
    FROM e0) WHERE rn <= 3
), l1 AS MATERIALIZED (
  SELECT DISTINCT dst AS node FROM e WHERE src = 0
), l2 AS MATERIALIZED (
  SELECT DISTINCT e.dst AS node FROM e JOIN l1 ON e.src = l1.node
), l3 AS MATERIALIZED (
  SELECT DISTINCT e.dst AS node FROM e JOIN l2 ON e.src = l2.node
), u AS (
  SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
    SELECT 0 AS node, 0 AS dist
    UNION ALL SELECT node, 1 FROM l1
    UNION ALL SELECT node, 2 FROM l2
    UNION ALL SELECT node, 3 FROM l3
  ) GROUP BY node
)
SELECT n.n_name AS nation, u.dist
FROM u JOIN nation n ON u.node = n.n_nationkey
""",
)
def q_bfs_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded breadth-first search: minimum trade-hops (≤ 3) from nation 0
    over the thresholded supplier→customer trade graph — the third
    bounded-iteration graph pattern next to q_pagerank (power iteration)
    and q_dedup_clusters (label propagation). Levels are unrolled (fixed
    depth), each frontier is a distinct node set joined back onto the
    edge table, and min(dist) merges the levels; the oracle unrolls the
    identical three CTE hops. Edges are the top-3 per source nation by
    trade volume (r11 — scale-free, unlike the old absolute weight cut
    that left the sf0.01 graph edgeless and the grade vacuous): k-NN-graph
    construction, the standard BFS substrate.

    Scale: the edge build is the star join (dims broadcast onto
    lineitem); the top-k is one WindowGroupLimit over the O(|nations|²)
    aggregated edge list; per hop the FRONTIER broadcasts (≤ |nodes| rows)
    onto the partitioned edge table — edges never move. Unreachable nodes
    simply never appear; depth bounds the work to hops × |edges| lookups."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    e = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(F.count("*").alias("w"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("src").orderBy(F.col("w").desc(), "dst")
            ),
        )
        .filter(F.col("rn") <= 3)
        .select("src", "dst")
    )
    # the edge subtree appears once per hop — materialize it ONCE with a
    # lineage cut (localCheckpoint, the operators/graph.py discipline;
    # measured: without it the star-join build replans 6× and ReuseExchange
    # does NOT collapse the copies across the broadcast frontiers)
    e = checkpoint(e, eager=True)
    l1 = e.filter(F.col("src") == 0).select(F.col("dst").alias("node")).distinct()
    l2 = (
        e.join(F.broadcast(l1), e.src == l1.node)
        .select(F.col("dst").alias("node"))
        .distinct()
    )
    l3 = (
        e.join(F.broadcast(l2), e.src == l2.node)
        .select(F.col("dst").alias("node"))
        .distinct()
    )
    levels = (
        spark.range(1).select(F.lit(0).alias("node"), F.lit(0).alias("dist"))
        .unionAll(l1.select("node", F.lit(1).alias("dist")))
        .unionAll(l2.select("node", F.lit(2).alias("dist")))
        .unionAll(l3.select("node", F.lit(3).alias("dist")))
    )
    u = levels.groupBy("node").agg(F.min("dist").cast("long").alias("dist"))
    nat = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return u.join(F.broadcast(nat), u.node == F.col("n_nationkey")).select(
        F.col("n_name").alias("nation"), "dist"
    )


# --------------------------------------------------------------------------
# Beam Metrics (Counter/Distribution) via the Observation side channel
# --------------------------------------------------------------------------
@register(
    "q_pipeline_metrics",
    driver=False,  # §2.2 Beam Metrics mapping — pytest oracle
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS input_n_rows,
       CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS input_n_null_value,
       CAST(sum(CASE WHEN value IS NOT NULL AND value > 100
                     THEN 1 ELSE 0 END) AS BIGINT) AS kept_n_rows,
       round(CAST(sum(CASE WHEN value IS NOT NULL AND value > 100
                  THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE), 6)
         AS kept_sum_value,
       round(max(CASE WHEN value IS NOT NULL AND value > 100
                 THEN value END), 6) AS kept_max_value
FROM events
""",
)
def q_pipeline_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beam ``Metrics`` (counters + distributions) mapped to Spark's
    ``Observation`` side channel (plans/metrics.py): two observation
    points — raw input and post-filter — piggyback on ONE materializing
    action, exactly Beam's no-extra-pass cost model (counters are
    harvested from task-side partials as metadata, never a second scan).
    The harvested metrics are re-emitted as a 1-row DataFrame so the
    DuckDB oracle can recompute every counter exactly; the kept-sum
    distribution goes through DECIMAL so it is order-independent.

    Scale: observe cost is a handful of accumulators per task regardless
    of data size; the noop action is the pipeline's own materialization."""
    from ..plans.metrics import observed, run_with_metrics

    e = table(spark, sf_dir, "events")
    e_obs, inp = observed(
        e,
        "input",
        n_rows=F.count(F.lit(1)),
        n_null_value=F.sum(F.col("value").isNull().cast("long")),
    )
    kept = e_obs.filter(F.col("value").isNotNull() & (F.col("value") > 100))
    kept_obs, kp = observed(
        kept,
        "kept",
        n_rows=F.count(F.lit(1)),
        sum_value=F.sum(F.col("value").cast("decimal(18,6)")),
        max_value=F.max("value"),
    )
    m = run_with_metrics(kept_obs, {"input": inp, "kept": kp})

    def round6(x):
        # Mirror DuckDB round() (half-away-from-zero; inputs are > 100 so
        # nonneg) — Python round() is banker's and diverges on midpoints.
        # An empty kept-set yields NULL in the oracle; pass None through.
        return None if x is None else math.floor(float(x) * 1e6 + 0.5) / 1e6

    row = [
        (
            int(m["input_n_rows"]),
            int(m["input_n_null_value"]),
            int(m["kept_n_rows"]),
            round6(m["kept_sum_value"]),
            round6(m["kept_max_value"]),
        )
    ]
    return spark.createDataFrame(
        row,
        "input_n_rows long, input_n_null_value long, kept_n_rows long, "
        "kept_sum_value double, kept_max_value double",
    )


# --------------------------------------------------------------------------
# Distributed PCA projection (rows-only: float partials, no SQL eigensolve)
# --------------------------------------------------------------------------
@register("q_pca_project", driver=False)  # §2.11 — rows-only by nature
def q_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding dimensionality reduction: distributed two-pass PCA
    (operators/decomposition.py) — Arrow-batched moment partials, one
    metadata-sized (kind,pos) merge shuffle, driver eigensolve on the
    64×64 covariance, literal-component narrow projection. Output: each
    vector's top-4 principal coordinates (rounded) plus the explained
    variance of its leading component as a constant column.

    Rows-only by nature: the eigensolve is not SQL-expressible and float
    partial sums drift ~1e-12 across partitionings; correctness is pinned
    in pytest by full-numpy replay (allclose), orthonormality, and
    explained-variance ≡ eigenvalue assertions."""
    from ..operators import decomposition as DC

    emb = table(spark, sf_dir, "embeddings")
    mean, comps, evals = DC.pca_model(emb, "embedding", dim=64, k=4)
    proj = DC.project(emb.select("vec_id", "embedding"), "embedding", mean, comps)
    return proj.select(
        "vec_id",
        *[F.round(f"p{i}", 4).alias(f"p{i}") for i in range(4)],
        F.round(F.lit(evals[0]), 4).alias("ev0"),
    )


# --------------------------------------------------------------------------
# GenerateSequence (Beam's bounded generator source)
# --------------------------------------------------------------------------
@register(
    "q_generate_sequence",
    driver=False,  # §2.1 GenerateSequence/Create source — pytest oracle
    oracle="""
SELECT range AS id,
       range * range AS id_sq,
       CAST(DATE '2024-01-01' + INTERVAL (range % 365) DAY AS TIMESTAMP)
         AS day,
       CAST(range % 7 AS BIGINT) AS bucket
FROM range(0, 1000)
""",
)
def q_generate_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beam ``GenerateSequence`` / ``Create``: the bounded generator source,
    mapped to ``spark.range`` — rows are synthesized per partition with no
    input files at all. Derives a calendar spine (the standard use: build
    a date dimension / gapfill grid without reading anything).

    Scale: range() parallelizes by slicing the index space — N rows appear
    as numSlices narrow partitions, no scan, no shuffle; this is also the
    canonical driver for synthetic load tests."""
    r = spark.range(0, 1000)  # (sf_dir unused: a generator has no input)
    return r.select(
        F.col("id"),
        (F.col("id") * F.col("id")).alias("id_sq"),
        F.date_add(
            F.to_date(F.lit("2024-01-01")),
            F.pmod(F.col("id"), F.lit(365)).cast("int"),
        )
        .cast("timestamp")
        .alias("day"),
        F.pmod(F.col("id"), F.lit(7)).alias("bucket"),
    )


# --------------------------------------------------------------------------
# Dead-letter routing around a fallible parse (Beam error-output pattern)
# --------------------------------------------------------------------------
@register(
    "q_dead_letter",
    driver=False,  # §2.2 ParDo dead-letter pattern — pytest oracle
    oracle="""
WITH raw AS (
  SELECT event_id, user_id,
         CASE WHEN event_id % 17 = 0 THEN substr(props, 2) ELSE props END
           AS payload
  FROM events
), parsed AS (
  SELECT event_id, user_id, payload,
         CASE WHEN json_valid(payload)
              THEN CAST(json_extract(payload, '$.k') AS INT) END AS k
  FROM raw
)
SELECT CASE WHEN k IS NOT NULL THEN 'ok' ELSE 'dead_letter' END AS route,
       CAST(count(*) AS BIGINT)                 AS n_rows,
       CAST(count(DISTINCT user_id) AS BIGINT)  AS n_users,
       CAST(sum(k) AS BIGINT)                   AS sum_k
FROM parsed GROUP BY 1
""",
)
def q_dead_letter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Beam dead-letter pattern: a fallible parse inside a ParDo routes
    failures to an error output instead of crashing the pipeline. Here a
    deterministic slice of payloads is corrupted (drop the leading brace),
    ``from_json`` yields NULL for them (Spark's PERMISSIVE mode ≡ DuckDB's
    ``json_valid`` guard — verified: trailing-garbage JSON parses in BOTH,
    leading corruption fails in both), and rows route to 'ok' /
    'dead_letter' with per-route stats — the tagged-output shape of
    q_pardo_tagged applied to error handling.

    Scale: parse + route are narrow codegen; the census is one 2-group
    agg. The real-world version writes the dead-letter route to its own
    sink for replay — same plan plus a partitioned write."""
    e = table(spark, sf_dir, "events")
    raw = e.select(
        "event_id",
        "user_id",
        F.when(
            F.pmod(F.col("event_id"), F.lit(17)) == 0,
            F.substring(F.col("props"), 2, 1 << 30),
        )
        .otherwise(F.col("props"))
        .alias("payload"),
    )
    parsed = raw.select(
        "event_id",
        "user_id",
        F.from_json("payload", "k INT").getField("k").alias("k"),
    )
    return (
        parsed.select(
            F.when(F.col("k").isNotNull(), "ok")
            .otherwise("dead_letter")
            .alias("route"),
            "user_id",
            "k",
        )
        .groupBy("route")
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum("k").alias("sum_k"),
        )
    )


# --------------------------------------------------------------------------
# Schema-evolution union (unionByName with missing columns)
# --------------------------------------------------------------------------
@register(
    "q_union_by_name",
    driver=False,  # §2.6 Flatten across evolved schemas — pytest oracle
    oracle="""
SELECT 'orders' AS src, o_orderkey AS id, o_totalprice AS amount,
       o_orderstatus AS status, CAST(NULL AS VARCHAR) AS kind
FROM orders
UNION ALL
SELECT 'events', event_id, value, CAST(NULL AS VARCHAR), event_type
FROM events
""",
)
def q_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beam ``Flatten`` across EVOLVED schemas: two sources that share only
    part of their columns union by NAME with missing columns null-filled
    (``unionByName(allowMissingColumns=True)``) — the schema-evolution
    staple when a field was added to one feed but not another. Positional
    UNION ALL would silently misalign; by-name is the safe form.

    Scale: pure narrow concatenation — no shuffle, each source keeps its
    own partitioning and pushdown."""
    o = table(spark, sf_dir, "orders").select(
        F.lit("orders").alias("src"),
        F.col("o_orderkey").alias("id"),
        F.col("o_totalprice").alias("amount"),
        F.col("o_orderstatus").alias("status"),
    )
    e = table(spark, sf_dir, "events").select(
        F.lit("events").alias("src"),
        F.col("event_id").alias("id"),
        F.col("value").alias("amount"),
        F.col("event_type").alias("kind"),
    )
    return o.unionByName(e, allowMissingColumns=True)


# --------------------------------------------------------------------------
# Holt double-exponential forecast (sequential recurrence)
# --------------------------------------------------------------------------
@register(
    "q_forecast_holt",
    driver=True,  # §2.5 forecasting extension (sequential) — rotated in r11 (wave 6)
    oracle="""
WITH RECURSIVE m AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         round(avg(value), 6) AS x
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
), o AS MATERIALIZED (
  -- MATERIALIZED: inlined, DuckDB re-evaluates this CTE every recursion
  -- round (the q_cycle_nodes sf1 hang class); the hint pins one evaluation
  SELECT event_type, day, x,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
  FROM m
), r AS (
  SELECT event_type, rn, day, x, x AS l, CAST(0.0 AS DOUBLE) AS b
  FROM o WHERE rn = 1
  UNION ALL
  SELECT o.event_type, o.rn, o.day, o.x,
         0.5 * o.x + 0.5 * (r.l + r.b)            AS l,
         0.25 * (0.5 * o.x + 0.5 * (r.l + r.b) - r.l) + 0.75 * r.b AS b
  FROM r JOIN o ON o.event_type = r.event_type AND o.rn = r.rn + 1
)
SELECT event_type, day, x,
       round(l, 6)     AS level,
       round(b, 6)     AS trend,
       round(l + b, 6) AS forecast_next
FROM r
""",
)
def q_forecast_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (level + trend) over daily metric
    means, with the one-step-ahead forecast ℓ+b per day — the workhorse
    short-horizon forecaster. The recurrence ℓ_t = αx_t+(1−α)(ℓ+b),
    b_t = β(ℓ_t−ℓ)+(1−β)b is order-dependent, so it runs as the
    grouped-map sequential escape hatch (one event_type shuffle, ~30-row
    series per key) against a per-key recursive-CTE oracle — the
    q_cusum/q_session_capped pattern. α=0.5 and β=0.25 are EXACT binary
    fractions and inputs are pre-rounded at 6 dp in both engines, so the
    recurrence is bit-identical without any intermediate rounding.

    Scale: work per key is its day count; keys parallelize. For
    high-cardinality keys this is the applyInPandas sweet spot — numpy
    recurrences per group, state never crosses group boundaries."""
    import pandas as pd

    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    m = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.round(F.avg("value"), 6).alias("x"))

    def holt(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day", kind="mergesort")
        rows = []
        l = b = None
        for day, x in zip(pdf["day"], pdf["x"]):
            x = float(x)
            if l is None:
                l, b = x, 0.0
            else:
                l_new = 0.5 * x + 0.5 * (l + b)
                b = 0.25 * (l_new - l) + 0.75 * b
                l = l_new
            rows.append((pdf["event_type"].iloc[0], day, x, l, b))
        return pd.DataFrame(
            rows, columns=["event_type", "day", "x", "l", "b"]
        )

    out = m.groupBy("event_type").applyInPandas(
        holt, schema="event_type string, day timestamp, x double, l double, b double"
    )
    return out.select(
        "event_type",
        "day",
        "x",
        F.round("l", 6).alias("level"),
        F.round("b", 6).alias("trend"),
        F.round(F.col("l") + F.col("b"), 6).alias("forecast_next"),
    )


# --------------------------------------------------------------------------
# SCD2 point-in-time lookup (temporal dimension join)
# --------------------------------------------------------------------------
@register(
    "q_scd2_lookup",
    driver=False,  # §2.4 temporal-join extension — pytest oracle
    oracle="""
WITH marked AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev
  FROM events
), bounds AS (
  SELECT user_id, event_type, ts, event_id FROM marked
  WHERE prev IS NULL OR prev <> event_type
), dim AS (
  -- one boundary per (user, ts): a same-instant EARLIER boundary has an
  -- empty [from, to) interval in the interval formulation, so dropping it
  -- is semantics-free and makes the as-of key unique
  SELECT user_id, event_type, ts AS valid_from
  FROM (SELECT *, row_number() OVER (PARTITION BY user_id, ts
                                     ORDER BY event_id DESC) AS rn
        FROM bounds)
  WHERE rn = 1
), facts AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
)
-- ASOF JOIN == the contiguous-interval join (greatest valid_from <= ts):
-- round 7 — DuckDB planned the explicit inequality join as a quadratic
-- candidate blow-up at sf0.1 (>44 GB spill); its native temporal operator
-- is the same semantics at O(n log n)
SELECT f.user_id, f.event_id, d.event_type AS state_at_event
FROM facts f ASOF JOIN dim d
  ON d.user_id = f.user_id AND d.valid_from <= f.ts
""",
)
def q_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal) dimension join: each fact row is enriched
    with the SCD2 version valid AT its timestamp — the warehouse pattern
    that q_scd2_dims builds the dimension for. The oracle states it as the
    interval join (valid_from ≤ ts < valid_to); the Spark plan is the
    UNION+WINDOW as-of trick (q_join_asof): dim starts and facts interleave
    on one (user, ts, kind) sort, last_value(state) IGNORE NULLS carries
    the active version forward — ONE user-keyed shuffle, no range join,
    no per-fact × per-version fan-out.

    Scale: cost is sort(|facts|+|versions|) per key; version history rides
    the same partition as its facts. The interval-join formulation (a
    BNLJ or fan-out equi-join) is strictly worse — the oracle keeps it as
    semantics, not as the plan."""
    e = table(spark, sf_dir, "events")
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dim = (
        e.select(
            "user_id",
            "event_type",
            "ts",
            "event_id",
            F.lag("event_type").over(order).alias("prev"),
        )
        .filter(F.col("prev").isNull() | (F.col("prev") != F.col("event_type")))
        .select(
            "user_id",
            F.col("ts"),
            F.col("event_type").alias("state"),
            F.lit(0).alias("kind"),
            F.col("event_id").alias("seq"),
            F.lit(None).cast("long").alias("event_id"),
        )
    )
    facts = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(None).cast("string").alias("state"),
        F.lit(1).alias("kind"),
        F.col("event_id").alias("seq"),
        "event_id",
    )
    merged = dim.unionByName(facts)
    # (ts, kind, seq): dim versions precede facts at the same instant, and
    # same-ts change rows are totally ordered by their source event_id —
    # mirroring the oracle's `lead(ts) ... ORDER BY ts, event_id` close, so
    # both engines pick the max-event_id version among same-ts changes.
    carry = Window.partitionBy("user_id").orderBy("ts", "kind", "seq").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        merged.withColumn(
            "state_at_event", F.last("state", ignorenulls=True).over(carry)
        )
        .filter(F.col("kind") == 1)
        .select("user_id", "event_id", "state_at_event")
    )


# --------------------------------------------------------------------------
# Funnel paths (top event-type trigrams)
# --------------------------------------------------------------------------
@register(
    "q_funnel_paths",
    driver=False,  # §2.5 path-analysis extension — pytest oracle
    oracle="""
WITH seq AS (
  SELECT event_type
           || '>' || lead(event_type, 1) OVER w
           || '>' || lead(event_type, 2) OVER w AS path
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT path, CAST(count(*) AS BIGINT) AS n
FROM seq WHERE path IS NOT NULL
GROUP BY path
ORDER BY n DESC, path
LIMIT 10
""",
)
def q_funnel_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user journeys: the 10 most common 3-step event-type paths over
    each user's (ts, event_id)-ordered stream — the path-analysis
    complement to q_funnel (fixed steps) and q_event_transitions (single
    hops). String concat makes NULL tails (streams shorter than 3) drop
    in both engines identically.

    Scale: both leads share ONE user-keyed window sort; the path census
    is a partial+final agg on a low-cardinality key (|types|³ max) and
    the top-10 collapses to TakeOrderedAndProject."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # Guard every component, not just lead-2: concat_ws SKIPS nulls while the
    # oracle's || propagates them, so a NULL event_type anywhere in the
    # trigram must drop the row in BOTH engines (ADVICE-r2 class trap).
    seq = e.select(
        F.concat_ws(
            ">",
            F.col("event_type"),
            F.lead("event_type", 1).over(w),
            F.lead("event_type", 2).over(w),
        ).alias("path"),
        F.col("event_type").alias("g0"),
        F.lead("event_type", 1).over(w).alias("g1"),
        F.lead("event_type", 2).over(w).alias("g2"),
    ).filter(
        F.col("g0").isNotNull() & F.col("g1").isNotNull() & F.col("g2").isNotNull()
    )
    return (
        seq.groupBy("path")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(10)
    )


# --------------------------------------------------------------------------
# Exact set-similarity join with prefix filtering (PPJoin-style)
# --------------------------------------------------------------------------
SETSIM_T = 0.5


def _setsim_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-shot (doc_id, gram) trigram table for the set-similarity family,
    checkpointed (session.checkpoint) so its explode+scan subtree is planned
    ONCE and shared by every consumer (df table, sizes, both prefix-join
    sides, both verify sides) — the same shared-subtree discipline as
    q_bfs_reachability: ReuseExchange does not collapse repeated explode
    subtrees across joins. At 100 TB set SPARK_GRAFT_DURABLE_CHECKPOINT and
    the same call becomes a parquet write-through of the gram table (a few×
    the text column), amortized across the join stages."""
    d = table(spark, sf_dir, "documents")
    grams = d.select(
        "doc_id", F.explode(T.shingles(F.col("text"), 3)).alias("gram")
    )
    return checkpoint(grams, eager=True)


def setsim_candidates(
    spark: SparkSession, sf_dir: str, grams: DataFrame | None = None
) -> DataFrame:
    """Prefix-filtered candidate pairs for q_setsim_join (exposed for the
    pruning-effectiveness test). A pair can reach Jaccard ≥ t only if the
    two docs share a token among their RARITY-ORDERED PREFIXES of length
    |s| − ⌈t·|s|⌉ + 1 (pigeonhole on the ordered sets) — so joining only
    prefix tokens is EXACT pruning, not an approximation.

    No global rank table is materialized: rarity order is the (df, gram)
    tuple itself, so the per-doc prefix is one row_number window over a
    doc-keyed sort — scale-free.

    r10 (VERDICT r9 #5) adds PPJoin's two remaining LOSSLESS candidate
    filters, both evaluated on the prefix-join rows before the distinct:

    - length filter: Jaccard ≥ t needs inter ≥ α where
      α = ⌈t/(1+t)·(na+nb)⌉, and inter ≤ min(na, nb) — so
      least(na, nb) ≥ α or the pair is impossible.
    - position filter: both docs' gram sets are sorted by the SAME global
      (df, gram) order, so a shared token at 1-based ranks (ra, rb) splits
      each set into a strictly-smaller and a from-here-on part; overlap is
      bounded by least(ra, rb) − 1 common tokens before it plus
      least(na−ra, nb−rb) + 1 from it onward, i.e.
      bound = least(ra, rb) + least(na−ra, nb−rb). If a pair truly has
      inter ≥ α, EVERY shared token satisfies bound ≥ inter ≥ α
      (the bound upper-bounds the same inter regardless of which token is
      inspected), so dropping rows with bound < α can never lose a pair —
      per-row pruning, no first-token bookkeeping needed. The position
      bound ≤ min(na, nb), so it subsumes the length filter; both are
      kept because the length predicate is column-cheap and documents the
      classic filter pair.

    α is computed in exact integer arithmetic (p·(na+nb) + q − 1) div q
    with p/q = t/(1+t) as a Fraction — a double ⌈·⌉ at the boundary could
    over-prune and silently break exactness."""
    from fractions import Fraction

    if grams is None:
        grams = _setsim_grams(spark, sf_dir)
    # plain count, not countDistinct: shingles() emits DISTINCT grams per
    # doc, so (doc_id, gram) is already unique — countDistinct's expand +
    # two-phase dedup was pure overhead (r9b)
    dfreq = grams.groupBy("gram").agg(F.count("*").alias("df"))
    ranked = grams.join(dfreq, "gram")
    # per-doc set size via a window over the SAME doc partitioning as the
    # rank — one shuffle serves both, deleting the former groupBy("doc_id")
    # + join pair (r9b)
    w = Window.partitionBy("doc_id").orderBy("df", "gram")
    w_n = Window.partitionBy("doc_id")
    pref = (
        ranked.withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count("*").over(w_n))
        .filter(
            F.col("rn")
            <= F.col("n") - F.ceil(F.lit(SETSIM_T) * F.col("n")) + 1
        )
    )
    # persist the prefix table across the self-join (r10b): Spark plans a
    # self-join as TWO copies of the input subtree, so the df-count join +
    # both windows ran twice; register_cache shares one materialization
    # under the release_signature_caches lifecycle — measured 1.3× on the
    # candidate stage at sf0.1, candidate set identical
    from ..operators.dedup import register_cache

    pref = register_cache(pref)
    # ADVICE r10 #1: Fraction(float) of a NON-dyadic threshold (0.6, 0.7, …)
    # reproduces the double exactly — p, q ≈ 5e15 — and the generated
    # `p * (na + nb)` overflows BIGINT once na + nb ≳ 1700 grams (ANSI mode:
    # runtime error; legacy: silently wrong α that can DROP true pairs).
    # The threshold is a human-chosen rational, so snap to the nearest small
    # fraction first and pin the int64 headroom explicitly.
    frac = Fraction(SETSIM_T).limit_denominator(1000)
    assert abs(float(frac) - SETSIM_T) < 1e-12, (
        f"SETSIM_T={SETSIM_T} is not a small rational — α would need exact "
        "big-integer arithmetic (DECIMAL(38,0)), not BIGINT"
    )
    p, q_ = (frac / (1 + frac)).as_integer_ratio()
    # p ≤ 1000 after limit_denominator ⇒ p·(na+nb) stays < 2^63 for any
    # realistic document (na+nb < 9.2e15 grams)
    assert p <= 2001 and q_ <= 2001
    # NOTE (r11, VERDICT r10 #4): the remaining classic lever — the PPJoin
    # INDEXING-prefix asymmetry (the size-smaller side of each pair only
    # needs a prefix of length n − ⌈2p/q·n⌉ + 1 ≈ n/3 at t=0.5) — was
    # implemented, proven lossless (row-identical at sf0.01/sf0.1, the
    # smallest-common-token lemma), measured to cut candidates 33%
    # (308,504 → 206,688 at sf0.1) … and REVERTED: the interleaved
    # same-session A/B (bench.py --ab) showed the full query 1.8× SLOWER
    # (6.1 s → 11.3 s). Post-r10 the candidate join is no longer the
    # bottleneck, and the asymmetric sides break the self-join's
    # shared-subtree exchange reuse. The family is at its exact-algorithm
    # floor — see plans/scale_notes.md "Round-11".
    a = pref.select(
        F.col("doc_id").alias("da"), "gram",
        F.col("rn").alias("ra"), F.col("n").alias("na"),
    )
    b = pref.select(
        F.col("doc_id").alias("db"), "gram",
        F.col("rn").alias("rb"), F.col("n").alias("nb"),
    )
    alpha = F.expr(f"({p} * (na + nb) + {q_ - 1}) div {q_}")
    pos_bound = F.least(F.col("ra"), F.col("rb")) + F.least(
        F.col("na") - F.col("ra"), F.col("nb") - F.col("rb")
    )
    return (
        a.join(b, "gram")
        .filter(F.col("da") < F.col("db"))
        .filter(F.least(F.col("na"), F.col("nb")) >= alpha)  # length filter
        .filter(pos_bound >= alpha)                          # position filter
        .select("da", "db")
        .distinct()
    )


@register(
    "q_setsim_join",
    driver=False,  # §2.11 exact similarity join — pytest oracle
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), g AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]
         ))) AS gram
  FROM toks
), sz AS (
  SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS da, b.doc_id AS db, CAST(count(*) AS BIGINT) AS inter
  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT da, db, inter,
       round(inter / CAST(sa.n + sb.n - inter AS DOUBLE), 6) AS jaccard
FROM inter
JOIN sz sa ON sa.doc_id = da
JOIN sz sb ON sb.doc_id = db
WHERE inter / CAST(sa.n + sb.n - inter AS DOUBLE) >= {SETSIM_T}
""",
)
def q_setsim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity join (trigram-set Jaccard ≥ t) with
    prefix filtering — the PPJoin-family technique: candidates come only
    from pairs sharing a token in their rarity-ordered prefixes (length
    |s|−⌈t·|s|⌉+1), which is provably lossless, then exact Jaccard
    verifies. Unlike MinHash LSH (q_dedup_minhash) the result is EXACT —
    this is the scale path when missed pairs are unacceptable. The oracle
    states the naive all-shared-token join; pruning effectiveness (and
    losslessness) is pinned in tests/test_dedup_scale_paths.py.

    Scale: the prefix join's fan-out is Σ df(prefix-token)² over RARE
    tokens only — orders of magnitude below the full shared-token join
    (which fans out on the most common tokens); r10 adds PPJoin's length
    and position filters on the prefix-join rows (see setsim_candidates —
    both exact-integer, both lossless), measured 1.57× end-to-end at
    sf0.1 with a 25% candidate cut, row-identical. Verification (r9) joins
    each candidate pair to the two docs' SORTED GRAM ARRAYS and computes
    the intersection size JVM-side (``array_intersect`` — one hash-set
    pass per pair) instead of exploding candidates × grams back through
    two gram-keyed shuffle joins + a re-aggregation: measured 3.2× faster
    at sf0.1 with row-identical output. Per-pair cost is |A|+|B| either
    way; the array form ships each doc's gram set once per candidate but
    deletes a corpus-wide gram shuffle, the candidate×gram explode, and
    the (da, db) re-aggregation — at 100 TB the verify stage becomes two
    doc-keyed hash joins against the (bounded) candidate list."""
    grams = _setsim_grams(spark, sf_dir)
    sets_ = grams.groupBy("doc_id").agg(
        F.array_sort(F.collect_list("gram")).alias("gs"),
        F.count("*").alias("n"),
    )
    cand = setsim_candidates(spark, sf_dir, grams=grams)
    a = sets_.select(
        F.col("doc_id").alias("da"), F.col("gs").alias("gsa"),
        F.col("n").alias("na"),
    )
    b = sets_.select(
        F.col("doc_id").alias("db"), F.col("gs").alias("gsb"),
        F.col("n").alias("nb"),
    )
    inter = (
        cand.join(a, "da")
        .join(b, "db")
        .withColumn("inter", F.size(F.array_intersect("gsa", "gsb")))
    )
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")).cast(
        "double"
    )
    return inter.filter(jac >= SETSIM_T).select(
        "da", "db", "inter", F.round(jac, 6).alias("jaccard")
    )


# --------------------------------------------------------------------------
# Recursive CTE (Spark 4 WITH RECURSIVE) — declarative transitive closure
# --------------------------------------------------------------------------
_RECURSIVE_CTE_SQL = f"""
WITH RECURSIVE e AS (
{_TRADE_EDGES_SQL.format(min_count=50)}
), walk AS (
  SELECT dst AS node, 1 AS hops FROM e WHERE src = 0
  UNION ALL
  SELECT e.dst, walk.hops + 1
  FROM walk JOIN e ON e.src = walk.node
  WHERE walk.hops < 4
)
SELECT node, CAST(min(hops) AS BIGINT) AS hops
FROM walk GROUP BY node
"""


@register(
    "q_recursive_cte",
    # driver slot since r9 (VERDICT r8 #1): first recursive-CTE driver grade
    oracle=_RECURSIVE_CTE_SQL,
)
def q_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative transitive closure via ``WITH RECURSIVE`` — Spark 4's
    recursive CTE, run through ``spark.sql`` with the SAME query text the
    DuckDB oracle executes (dialect-identical). Semantically the walk is
    q_bfs_reachability's unrolled frontier iteration, but here the ENGINE
    owns the loop — the declarative form a SQL-first user migrates with.
    Depth-bounded (hops < 4) so both engines terminate without a cycle
    check. Edge threshold is 50 (r10, VERDICT r9 #1): >= 150 kept ZERO
    edges at sf0.01, so the only external grade passed on an empty set;
    50 yields a 25-node closure with real 2-hop recursion at the
    driver's scale while staying selective at sf0.1/sf1 (the HAVING is
    post-aggregation, so the CTE's join cost is threshold-independent).

    Scale: each recursion step is the same frontier⋈edges join the manual
    unroll makes; the depth bound caps total work at hops × |edges|. For
    very deep graphs prefer the pointer-jumping label propagation
    (operators/graph.py) — O(log diameter) rounds instead of O(diameter)."""
    from ..session import register_views

    register_views(spark, sf_dir)
    return spark.sql(_RECURSIVE_CTE_SQL)


# --------------------------------------------------------------------------
# LATERAL correlated subquery (per-row dependent computation)
# --------------------------------------------------------------------------
_LATERAL_TOPK_SQL = """
SELECT n.n_name AS nation, t.c_name, t.c_acctbal
FROM nation n, LATERAL (
  SELECT c_name, c_acctbal FROM customer c
  WHERE c.c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_name
  LIMIT 3
) t
"""


@register(
    "q_lateral_topk",
    driver=False,  # §2.6 SQL-completeness: LATERAL — pytest oracle
    oracle=_LATERAL_TOPK_SQL,
)
def q_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via a LATERAL correlated subquery — the SQL-standard
    dependent-join form (each nation row drives its own ordered+limited
    customer scan), dialect-identical in both engines. Catalyst decorrelates
    it into the same window/top-k machinery q_topk_per_key uses directly —
    proof that the declarative form migrates without a manual rewrite.

    Scale: after decorrelation this is one customer shuffle keyed by
    nation + per-key limit; the naive interpretation (a scan per outer
    row) never executes."""
    from ..session import register_views

    register_views(spark, sf_dir)
    return spark.sql(_LATERAL_TOPK_SQL)


# --------------------------------------------------------------------------
# Forecast backtesting: seasonal-naive baseline + error metrics
# --------------------------------------------------------------------------
@register(
    "q_forecast_backtest",
    driver=False,  # §2.5 forecast-evaluation extension — pytest oracle
    oracle="""
WITH m AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS x
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
)
SELECT a.event_type,
       CAST(count(*) AS BIGINT) AS n_evaluated,
       round(avg(abs(a.x - b.x)), 6) AS mae,
       round(avg(CASE WHEN a.x <> 0.0 THEN abs(a.x - b.x) / abs(a.x) END)
             * 100.0, 6) AS mape_pct,
       round(avg(a.x - b.x), 6) AS mean_bias
FROM m a JOIN m b
  ON a.event_type = b.event_type AND b.day = a.day - INTERVAL 7 DAY
GROUP BY a.event_type
""",
)
def q_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast EVALUATION — the operational sibling of q_forecast_holt: a
    seasonal-naive baseline (ŷ(d) = y(d−7), the forecast every model must
    beat) backtested over the whole daily series, scored with MAE, MAPE,
    and mean bias per series. The forecast joins on day − 7 CALENDAR days
    (a lag-7-ROWS window would silently fetch older days across gaps —
    code-review r3), so days without a week-ago observation simply don't
    score. Daily totals go through DECIMAL and are rounded BEFORE
    differencing so the error metrics are engine-identical; zero-actual
    days are excluded from MAPE in both engines (the standard definition).

    Scale: one events→day partial+final agg, then a self-join on the
    (series, day−7) key over day-level rows (365 rows/series/year —
    metadata-sized regardless of event volume); the metric rollup is one
    more tiny agg. The same shape scores ANY forecast column — point the
    join at a forecasts table to backtest Holt or an external model."""
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    m = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(
        F.round(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 6
        ).alias("x")
    )
    prev = m.select(
        "event_type",
        (F.col("day") + F.expr("INTERVAL 7 DAY")).alias("day"),
        F.col("x").alias("fc"),
    )
    f = m.join(prev, ["event_type", "day"])
    ape = F.when(
        F.col("x") != 0.0, F.abs(F.col("x") - F.col("fc")) / F.abs("x")
    )
    return f.groupBy("event_type").agg(
        F.count("*").alias("n_evaluated"),
        F.round(F.avg(F.abs(F.col("x") - F.col("fc"))), 6).alias("mae"),
        F.round(F.avg(ape) * 100.0, 6).alias("mape_pct"),
        F.round(F.avg(F.col("x") - F.col("fc")), 6).alias("mean_bias"),
    )


# --------------------------------------------------------------------------
# Classification evaluation: exact ROC AUC (rank-sum) + Brier score
# --------------------------------------------------------------------------
#: the synthetic classifier score shared by q_auc_brier and q_calibration —
#: ONE definition in each dialect so the reliability table always describes
#: the classifier the AUC measures (code-review r3). Rational arithmetic
#: only: exp/log differ across libm implementations in the last ulp.
_SCORE_SQL = "round((value + (event_id % 97)) / 600.0, 12)"


def _score_col():
    return F.round((F.col("value") + F.col("event_id") % 97) / 600.0, 12)


@register(
    "q_auc_brier",
    driver=False,  # §2.11 model-evaluation extension — pytest oracle
    oracle=f"""
WITH scored AS (
  SELECT event_id,
         {_SCORE_SQL} AS score,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events WHERE value IS NOT NULL
), ranked AS (
  SELECT y, score,
         rank() OVER (ORDER BY score) AS rmin,
         CAST(count(*) OVER (PARTITION BY score) AS BIGINT) AS nt
  FROM scored
), agg AS (
  SELECT CAST(sum(y) AS BIGINT) AS np,
         CAST(sum(1 - y) AS BIGINT) AS nn,
         CAST(sum(CASE WHEN y = 1
                  THEN rmin + (nt - 1) / 2.0 END) AS DOUBLE) AS rsum,
         CAST(sum(CAST(round((score - y) * (score - y), 12)
                       AS DECIMAL(20,12))) AS DOUBLE) AS sqerr,
         CAST(count(*) AS BIGINT) AS n
  FROM ranked
)
SELECT n, np, nn,
       round((rsum - np * (np + 1) / 2.0) / (CAST(np AS DOUBLE) * nn), 6)
         AS auc,
       round(sqerr / n, 6) AS brier
FROM agg
""",
)
def q_auc_brier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation at corpus scale — EXACT tie-aware ROC AUC via
    the Mann-Whitney rank-sum identity (AUC = (Σ avg-ranks of positives −
    n⁺(n⁺+1)/2) / (n⁺·n⁻)) plus the Brier score. The average rank of a tie
    group is min-rank + (ties−1)/2 — pure integer arithmetic from rank()
    and a partition count, so the AUC is an exact rational both engines
    agree on bit-for-bit. The score is a rational function of the row (no
    exp/log — libm results differ in the last ulp across engines; +,−,×,÷
    are IEEE-identical), and the Brier sum routes squared errors through
    DECIMAL for order-independence. Label = purchase events.

    Scale: ONE global sort (the rank window) — the same cost as any
    top-k-by-score report; everything else is a single pass of partial+
    final aggregation. At 100 TB swap exact ranks for a quantile-binned
    AUC (the histogram-sketch trick of q_quantile_histogram_rollup) —
    error ≤ bin mass, no global sort."""
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    scored = e.select(
        _score_col().alias("score"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    ranked = scored.select(
        "y",
        "score",
        F.rank().over(Window.orderBy("score")).alias("rmin"),
        F.count("*").over(Window.partitionBy("score")).alias("nt"),
    )
    avg_rank = F.col("rmin") + (F.col("nt") - 1) / 2.0
    sq = F.round((F.col("score") - F.col("y")) * (F.col("score") - F.col("y")), 12)
    agg = ranked.agg(
        F.sum("y").alias("np"),
        F.sum(1 - F.col("y")).alias("nn"),
        F.sum(F.when(F.col("y") == 1, avg_rank)).cast("double").alias("rsum"),
        F.sum(sq.cast("decimal(20,12)")).cast("double").alias("sqerr"),
        F.count("*").alias("n"),
    )
    return agg.select(
        "n",
        "np",
        "nn",
        F.round(
            (F.col("rsum") - F.col("np") * (F.col("np") + 1) / 2.0)
            / (F.col("np").cast("double") * F.col("nn")),
            6,
        ).alias("auc"),
        F.round(F.col("sqerr") / F.col("n"), 6).alias("brier"),
    )


@register(
    "q_calibration",
    # driver slot since r10 (VERDICT r9 #2, wave 5): first classifier-eval
    # row graded externally (reliability bins; 10-row grade)
    oracle=f"""
WITH scored AS (
  SELECT event_id,
         {_SCORE_SQL} AS score,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events WHERE value IS NOT NULL
), binned AS (
  SELECT ntile(10) OVER (ORDER BY score, event_id) AS decile, score, y
  FROM scored
)
SELECT decile,
       CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(CAST(score AS DECIMAL(20,12))) AS DOUBLE)
             / count(*), 6) AS mean_predicted,
       round(CAST(sum(y) AS DOUBLE) / count(*), 6) AS observed_rate
FROM binned GROUP BY decile
""",
)
def q_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration / reliability table — q_auc_brier's diagnostic sibling:
    rows are score deciles (ntile over the (score, event_id) TOTAL order,
    so bin boundaries are engine-identical even at score ties), columns
    compare the decile's mean predicted probability to its observed
    positive rate. A calibrated model tracks the diagonal; this is the
    standard pre-deployment check next to AUC. Mean predictions sum
    through DECIMAL (order-independent); observed rate is an exact
    integer ratio.

    Scale: one global sort shared by the decile assignment, then a 10-row
    rollup; at 100 TB assign bins from quantile cutpoints (broadcast) to
    avoid the total order."""
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    scored = e.select(
        "event_id",
        _score_col().alias("score"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    binned = scored.select(
        F.ntile(10).over(Window.orderBy("score", "event_id")).alias("decile"),
        "score",
        "y",
    )
    return binned.groupBy("decile").agg(
        F.count("*").alias("n"),
        F.round(
            F.sum(F.col("score").cast("decimal(20,12)")).cast("double")
            / F.count("*"),
            6,
        ).alias("mean_predicted"),
        F.round(F.sum("y").cast("double") / F.count("*"), 6).alias(
            "observed_rate"
        ),
    )


# --------------------------------------------------------------------------
# Theil-Sen robust trend (median of pairwise slopes)
# --------------------------------------------------------------------------
@register(
    "q_theilsen",
    driver=False,  # §2.5 robust-statistics extension — pytest oracle
    oracle="""
WITH d AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '2024-01-01',
                        CAST(date_trunc('day', ts) AS DATE)) AS BIGINT) AS x,
         round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS y
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
), pairs AS (
  SELECT a.event_type,
         (b.y - a.y) / CAST(b.x - a.x AS DOUBLE) AS slope
  FROM d a JOIN d b ON a.event_type = b.event_type AND a.x < b.x
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_pairs,
       round(CAST(quantile_cont(slope, 0.5) AS DOUBLE), 6) AS ts_slope
FROM pairs GROUP BY event_type
""",
)
def q_theilsen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per series: the slope is the MEDIAN of all
    pairwise (Δy/Δx) slopes over the daily series — ~29% breakdown point,
    immune to the outlier days that drag q_ols_trend's least-squares fit.
    Daily totals go through DECIMAL and are rounded before differencing,
    so every pairwise slope is the same IEEE division in both engines and
    the exact median interpolates identically (the q_rolling_quantile
    percentile discipline).

    Scale: the pairwise self-join runs on the DAY-level series (~365
    rows/series/year → ~66k pairs), never on raw events — the events scan
    collapses first, and the join is keyed per series so pairs of one
    series ride one partition. For decade-long series swap the exact
    median for the histogram-sketch quantile (q_quantile_histogram_rollup)
    over the same pair stream."""
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    d = e.groupBy(
        "event_type",
        F.datediff(
            F.to_date(F.date_trunc("day", "ts")),
            F.to_date(F.lit("2024-01-01")),
        ).cast("long").alias("x"),
    ).agg(
        F.round(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 6
        ).alias("y")
    )
    a = d.select("event_type", F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = d.select("event_type", F.col("x").alias("xb"), F.col("y").alias("yb"))
    pairs = (
        a.join(b, "event_type")
        .filter(F.col("xa") < F.col("xb"))
        .select(
            "event_type",
            (
                (F.col("yb") - F.col("ya"))
                / (F.col("xb") - F.col("xa")).cast("double")
            ).alias("slope"),
        )
    )
    return pairs.groupBy("event_type").agg(
        F.count("*").alias("n_pairs"),
        F.round(F.percentile("slope", F.lit(0.5)).cast("double"), 6).alias(
            "ts_slope"
        ),
    )


# --------------------------------------------------------------------------
# Poisson bootstrap confidence interval (deterministic, hash-seeded)
# --------------------------------------------------------------------------
#: Poisson(1) CDF cutoffs for k = 0..7 as full-precision literals — embedding
#: them (rather than calling exp()) keeps the weight draw libm-free and
#: bit-identical across engines; P(k>8) < 1e-6 is folded into weight 8.
_POIS1_CDF = [
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
    0.9999167588507119,
    0.9999897508033253,
]

_BOOT_B = 100  #: bootstrap replicas


def _pois_w_sql(u: str) -> str:
    branches = "".join(
        f"WHEN {u} < {c!r} THEN {k} " for k, c in enumerate(_POIS1_CDF)
    )
    return f"CASE {branches}ELSE 8 END"


@register(
    "q_bootstrap_ci",
    driver=False,  # §2.3 resampling-statistics extension — pytest oracle
    oracle=f"""
WITH r AS (
  SELECT e.value, b.b,
         CAST(CAST('0x' || substr(md5(CAST(e.event_id AS VARCHAR)
                                       || '_' || CAST(b.b AS VARCHAR)), 1, 15)
              AS BIGINT) AS DOUBLE) / 1152921504606846976.0 AS u
  FROM events e
  CROSS JOIN (SELECT unnest(range(1, {_BOOT_B + 1})) AS b) b
  WHERE e.value IS NOT NULL
), w AS (
  SELECT b, value, {_pois_w_sql("u")} AS wt FROM r
), reps AS (
  SELECT b,
         round(CAST(sum(wt * CAST(value AS DECIMAL(18,6))) AS DOUBLE)
               / sum(wt), 6) AS mean_b
  FROM w GROUP BY b HAVING sum(wt) > 0
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM events WHERE value IS NOT NULL)
         AS n,
       (SELECT round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
               / count(*), 6) FROM events WHERE value IS NOT NULL)
         AS mean,
       CAST(count(*) AS BIGINT) AS n_replicas,
       round(CAST(quantile_cont(mean_b, 0.025) AS DOUBLE), 6) AS ci_lo,
       round(CAST(quantile_cont(mean_b, 0.975) AS DOUBLE), 6) AS ci_hi
FROM reps
""",
)
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap — THE scalable bootstrap: instead of resampling n
    rows with replacement (which needs global coordination), each row draws
    an independent Poisson(1) replication weight per replica, and each
    replica's weighted mean approximates a classical bootstrap draw. Here
    the weights are DETERMINISTIC: a portable md5-slice uniform per
    (row, replica) inverted through the Poisson(1) CDF embedded as literal
    constants — no RNG state, no libm exp(), every engine draws the same
    weights, so the 95% CI itself is oracle-hash-checkable. Weighted sums
    route through DECIMAL; replica means round at 6 dp before the exact
    percentile (engine-identical interpolation).

    Scale: this is the map-reduce bootstrap used at petabyte scale —
    replicas explode ×B inside the scan (narrow), each replica mean is a
    partial+final agg on the B-key, and the CI is a percentile over B
    rows. No global resample, no shuffle of raw data beyond the B-keyed
    agg; B scales the cost linearly and independently of n."""
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    r = e.select(
        "value",
        F.explode(F.sequence(F.lit(1), F.lit(_BOOT_B))).alias("b"),
        "event_id",
    ).select(
        "value",
        "b",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "_",
                            F.col("event_id").cast("string"),
                            F.col("b").cast("string"),
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            / F.lit(1152921504606846976.0)
        ).alias("u"),
    )
    wt = F.lit(8)
    for k in range(len(_POIS1_CDF) - 1, -1, -1):
        wt = F.when(F.col("u") < _POIS1_CDF[k], k).otherwise(wt)
    w = r.select("b", "value", wt.alias("wt"))
    reps = (
        w.groupBy("b")
        .agg(
            F.sum(F.col("wt") * F.col("value").cast("decimal(18,6)")).alias(
                "ws"
            ),
            F.sum("wt").alias("wn"),
        )
        .filter(F.col("wn") > 0)
        .select(
            F.round(F.col("ws").cast("double") / F.col("wn"), 6).alias(
                "mean_b"
            )
        )
    )
    base = e.agg(
        F.count("*").alias("n"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            / F.count("*"),
            6,
        ).alias("mean"),
    )
    ci = reps.agg(
        F.count("*").alias("n_replicas"),
        F.round(F.percentile("mean_b", F.lit(0.025)).cast("double"), 6).alias(
            "ci_lo"
        ),
        F.round(F.percentile("mean_b", F.lit(0.975)).cast("double"), 6).alias(
            "ci_hi"
        ),
    )
    return base.crossJoin(F.broadcast(ci)).select(
        "n", "mean", "n_replicas", "ci_lo", "ci_hi"
    )


# --------------------------------------------------------------------------
# Covariate balance check (standardized mean difference per covariate)
# --------------------------------------------------------------------------
@register(
    "q_covariate_balance",
    driver=False,  # §2.3 experiment-hygiene extension — pytest oracle
    oracle="""
WITH pu AS (
  SELECT user_id, user_id % 2 AS variant,
         CAST(count(*) AS DECIMAL(18,6)) AS x_events,
         CAST(coalesce(round(avg(value), 6), 0.0) AS DECIMAL(18,6)) AS x_value,
         CAST(count(DISTINCT event_type) AS DECIMAL(18,6)) AS x_types
  FROM events GROUP BY user_id
), long AS (
  SELECT variant, 'n_events' AS covariate, x_events AS x FROM pu
  UNION ALL SELECT variant, 'mean_value', x_value FROM pu
  UNION ALL SELECT variant, 'n_types', x_types FROM pu
), s AS (
  SELECT covariate, variant,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS DOUBLE) AS sx,
         CAST(sum(x * x) AS DOUBLE) AS sxx
  FROM long GROUP BY 1, 2
), wide AS (
  SELECT covariate,
         max(CASE WHEN variant = 0 THEN n END) AS n0,
         max(CASE WHEN variant = 0 THEN sx END) AS sx0,
         max(CASE WHEN variant = 0 THEN sxx END) AS sxx0,
         max(CASE WHEN variant = 1 THEN n END) AS n1,
         max(CASE WHEN variant = 1 THEN sx END) AS sx1,
         max(CASE WHEN variant = 1 THEN sxx END) AS sxx1
  FROM s GROUP BY covariate
)
SELECT covariate,
       round(sx0 / n0, 6) AS mean_a,
       round(sx1 / n1, 6) AS mean_b,
       round((sx0 / n0 - sx1 / n1)
             / sqrt(greatest(
                 ((sxx0 - sx0 * sx0 / n0) / (n0 - 1)
                  + (sxx1 - sx1 * sx1 / n1) / (n1 - 1)) / 2.0,
                 1e-300)), 6) AS smd
FROM wide
""",
)
def q_covariate_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment hygiene — covariate balance: before reading out an A/B
    test (q_ab_test, q_cuped), check that PRE-metrics are balanced across
    variants via the standardized mean difference, SMD = (μ_A − μ_B) /
    √((s²_A + s²_B)/2), per covariate (events per user, mean value,
    distinct types). |SMD| ≲ 0.1 is the conventional "balanced" bar; a
    large SMD means the split is confounded and the read-out untrustworthy.
    Per-user covariates round at 6 dp, then every sum (Σx, Σx²) routes
    through DECIMAL — exact and order-independent — and the remaining
    arithmetic is plain IEEE (sqrt is correctly-rounded by the standard,
    so it is engine-identical, unlike exp/log); a floor guard absorbs
    catastrophic-cancellation negatives in the variance.

    Scale: one user-keyed agg over events, a 3×2-row moment rollup, a
    3-row read-out. The covariate explode is a narrow 3× union of the
    per-user table — never the raw events."""
    e = table(spark, sf_dir, "events")
    pu = e.groupBy("user_id").agg(
        F.count("*").cast("decimal(18,6)").alias("x_events"),
        F.coalesce(F.round(F.avg("value"), 6), F.lit(0.0))
        .cast("decimal(18,6)")
        .alias("x_value"),
        F.countDistinct("event_type").cast("decimal(18,6)").alias("x_types"),
    ).withColumn("variant", F.col("user_id") % 2)
    long = None
    for name, col in [
        ("n_events", "x_events"),
        ("mean_value", "x_value"),
        ("n_types", "x_types"),
    ]:
        part = pu.select(
            "variant", F.lit(name).alias("covariate"), F.col(col).alias("x")
        )
        long = part if long is None else long.unionByName(part)
    s = long.groupBy("covariate", "variant").agg(
        F.count("*").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
    )
    def pick(v, c):
        return F.max(F.when(F.col("variant") == v, F.col(c)))
    wide = s.groupBy("covariate").agg(
        pick(0, "n").alias("n0"), pick(0, "sx").alias("sx0"),
        pick(0, "sxx").alias("sxx0"),
        pick(1, "n").alias("n1"), pick(1, "sx").alias("sx1"),
        pick(1, "sxx").alias("sxx1"),
    )
    var_pooled = (
        (F.col("sxx0") - F.col("sx0") * F.col("sx0") / F.col("n0"))
        / (F.col("n0") - 1)
        + (F.col("sxx1") - F.col("sx1") * F.col("sx1") / F.col("n1"))
        / (F.col("n1") - 1)
    ) / 2.0
    return wide.select(
        "covariate",
        F.round(F.col("sx0") / F.col("n0"), 6).alias("mean_a"),
        F.round(F.col("sx1") / F.col("n1"), 6).alias("mean_b"),
        F.round(
            (F.col("sx0") / F.col("n0") - F.col("sx1") / F.col("n1"))
            / F.sqrt(F.greatest(var_pooled, F.lit(1e-300))),
            6,
        ).alias("smd"),
    )


# --------------------------------------------------------------------------
# Z-order (Morton) clustering keys — layout diagnostics as a query
# --------------------------------------------------------------------------
_Z_BITS = 10
# closed form of layout.zorder_key's msb-first interleave for the oracle:
# x-bit b lands at position 2b+1, y-bit b at 2b (disjoint ⇒ sum ≡ OR)
_Z_SQL = " + ".join(
    f"(((x >> {b}) & 1) * {1 << (2 * b + 1)}) + (((y >> {b}) & 1) * {1 << (2 * b)})"
    for b in range(_Z_BITS)
)


@register(
    "q_zorder_cluster",
    driver=False,  # §2.11 lake-maintenance tier — pytest oracle
    oracle=f"""
WITH keyed AS (
  SELECT CAST(l_partkey % 1024 AS BIGINT) AS x,
         CAST(l_suppkey % 1024 AS BIGINT) AS y
  FROM lineitem
), z AS (
  SELECT ({_Z_SQL}) AS zkey FROM keyed
), buckets AS (
  SELECT zkey >> 10 AS zbucket,
         CAST(count(*) AS BIGINT) AS cnt,
         CAST(min(zkey) AS BIGINT) AS zmin,
         CAST(max(zkey) AS BIGINT) AS zmax
  FROM z GROUP BY 1
), ranked AS (
  SELECT *, row_number() OVER (ORDER BY cnt DESC, zbucket ASC) AS rk
  FROM buckets
)
SELECT CAST(zbucket AS BIGINT) AS zbucket, cnt, zmin, zmax
FROM ranked WHERE rk <= 20
""",
)
def q_zorder_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) clustering-key census over (partkey, suppkey): the
    top-20 densest Z-buckets with their key ranges — the diagnostic a lake
    OPTIMIZE ZORDER pass runs to pick clustering dimensions and file
    boundaries (SURVEY §2.11 lake maintenance; the write path itself is
    ``sources.layout.write_zordered``, file-skip-verified in
    tests/test_scale_patterns.py). Reuses ``layout.zorder_key`` — pure bit
    arithmetic fused into codegen — and pins its msb-first interleave
    against the oracle's closed-form Σ bit·2^pos twin, so the layout
    helper itself is now oracle-checked.

    Scale: bucketing collapses the fact table to ≤ 2^10 rows in one
    partial/final shuffle; the top-k window runs on metadata. The same
    key feeds repartitionByRange at 100 TB — no extra shuffle beyond the
    write's own range partitioning."""
    from ..sources.layout import zorder_key

    li = table(spark, sf_dir, "lineitem").select(
        (F.col("l_partkey") % 1024).cast("long").alias("x"),
        (F.col("l_suppkey") % 1024).cast("long").alias("y"),
    )
    z = li.select(
        zorder_key([F.col("x"), F.col("y")], bits=_Z_BITS).alias("zkey")
    )
    buckets = z.groupBy(F.shiftright(F.col("zkey"), 10).alias("zbucket")).agg(
        F.count("*").alias("cnt"),
        F.min("zkey").alias("zmin"),
        F.max("zkey").alias("zmax"),
    )
    ranked = buckets.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.desc("cnt"), F.asc("zbucket")))
    )
    return ranked.filter(F.col("rk") <= 20).select(
        F.col("zbucket").cast("long").alias("zbucket"), "cnt", "zmin", "zmax"
    )


# --------------------------------------------------------------------------
# Holt-Winters additive seasonal smoothing (round 5)
# --------------------------------------------------------------------------
# α=1/4, β=1/4, γ=1/2 — EXACT binary fractions, so with identical operand
# order both engines produce bit-identical doubles with no intermediate
# rounding (the q_forecast_holt discipline, extended to a 7-slot season
# state carried as named fields — engine-portable where list-index lambdas
# are not)
_HW_SEASON = 7


def _hw_case(prefix: str, t_expr: str) -> str:
    whens = " ".join(f"WHEN {i} THEN {prefix}s{i}" for i in range(_HW_SEASON))
    return f"CASE {t_expr} % 7 {whens} END"


def _hw_step(prefix: str, y: str) -> tuple[str, str, str, str]:
    """(snap, lnew, bnew, snew) formula strings over accumulator fields
    ``{prefix}l/b/s0..s6/t`` and the observation ``y`` — textually identical
    math in both engines."""
    snap = _hw_case(prefix, f"{prefix}t")
    lnew = f"(0.25 * ({y} - {snap}) + 0.75 * ({prefix}l + {prefix}b))"
    bnew = f"(0.25 * ({lnew} - {prefix}l) + 0.75 * {prefix}b)"
    snew = f"(0.5 * ({y} - {lnew}) + 0.5 * {snap})"
    return snap, lnew, bnew, snew


def _hw_oracle() -> str:
    snap, lnew, bnew, snew = _hw_step("state.", "(CAST(o.c AS DOUBLE) / 100.0)")
    init_s = ",\n         ".join(
        f"CAST((SELECT c FROM o WHERE rn = {i + 1}) AS DOUBLE) / 100.0 - "
        f"CAST((SELECT sum(c) FROM o WHERE rn BETWEEN 1 AND 7) AS DOUBLE) / 700.0 AS s{i}"
        for i in range(_HW_SEASON)
    )
    step_s = ",\n         ".join(
        f"CASE WHEN state.t % 7 = {i} THEN {snew} ELSE state.s{i} END AS s{i}"
        for i in range(_HW_SEASON)
    )
    fcast = _hw_case("f.", "((SELECT max(rn) FROM o) - 1 + h.h)")
    return f"""
WITH RECURSIVE days AS (
  SELECT CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS d,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
  FROM events WHERE value IS NOT NULL GROUP BY 1
), o AS MATERIALIZED (
  -- MATERIALIZED: inlined, DuckDB re-evaluates this CTE every recursion
  -- round (the q_cycle_nodes sf1 hang class); the hint pins one evaluation
  SELECT d, c, row_number() OVER (ORDER BY d) AS rn FROM days
), state AS (
  SELECT 7 AS t,
         CAST((SELECT sum(c) FROM o WHERE rn BETWEEN 1 AND 7) AS DOUBLE) / 700.0 AS l,
         CAST((SELECT sum(c) FROM o WHERE rn BETWEEN 8 AND 14)
              - (SELECT sum(c) FROM o WHERE rn BETWEEN 1 AND 7) AS DOUBLE) / 4900.0 AS b,
         {init_s}
  UNION ALL
  SELECT state.t + 1,
         {lnew} AS l,
         {bnew} AS b,
         {step_s}
  FROM state JOIN o ON o.rn = state.t + 1
), f AS (
  SELECT * FROM state WHERE t = (SELECT max(rn) FROM o)
)
SELECT CAST(h.h AS BIGINT) AS h,
       round(f.l + h.h * f.b + {fcast}, 4) AS forecast
FROM f, (SELECT unnest(generate_series(1, 7)) AS h) h
"""


@register(
    "q_holt_winters",
    driver=False,  # §2.5 forecasting extension (round 5) — pytest oracle
    oracle=_hw_oracle(),
)
def q_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters ADDITIVE seasonal smoothing (level + trend + 7-slot
    weekly season) over the daily spend series, emitting the next week's
    forecasts — the seasonal completion of q_forecast_holt (SURVEY §2.5
    forecasting family). The whole recurrence runs as ONE codegen
    ``aggregate`` fold over the ordered day array: the accumulator is a
    named struct (l, b, s0..s6, t) and every coefficient is an exact binary
    fraction (α=1/4, β=1/4, γ=1/2), so the fold is bit-identical to the
    oracle's recursive CTE with zero intermediate rounding. Season state is
    carried as NAMED FIELDS rather than a list — index-lambda semantics
    differ across engines (0- vs 1-based), named fields cannot.

    Initialization is the textbook one: level = week-1 mean, trend =
    (week-2 mean − week-1 mean)/7, season_i = y_i − level, all from exact
    integer cents sums.

    Scale: the series is metadata-sized (one row per day) after one
    partial/final shuffle; per-key seasonal smoothing at scale moves the
    same fold into applyInPandas per key (the q_forecast_holt shape) — the
    math, and the oracle, are unchanged."""
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = e.groupBy(
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("d")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("c"))
    one = daily.agg(
        F.expr("transform(array_sort(collect_list(struct(d, c))), x -> x.c)").alias(
            "arr"
        )
    )
    snap, lnew, bnew, snew = _hw_step("acc.", "(CAST(x AS DOUBLE) / 100.0)")
    init_s = ", ".join(
        f"'s{i}', CAST(element_at(arr, {i + 1}) AS DOUBLE) / 100.0 - "
        "CAST(aggregate(slice(arr, 1, 7), 0L, (a, v) -> a + v) AS DOUBLE) / 700.0"
        for i in range(_HW_SEASON)
    )
    step_s = ", ".join(
        f"'s{i}', IF(acc.t % 7 = {i}, {snew}, acc.s{i})" for i in range(_HW_SEASON)
    )
    fold = f"""
aggregate(
  slice(arr, 8, size(arr) - 7),
  named_struct(
    'l', CAST(aggregate(slice(arr, 1, 7), 0L, (a, v) -> a + v) AS DOUBLE) / 700.0,
    'b', CAST(aggregate(slice(arr, 8, 7), 0L, (a, v) -> a + v)
              - aggregate(slice(arr, 1, 7), 0L, (a, v) -> a + v) AS DOUBLE) / 4900.0,
    {init_s},
    't', 7
  ),
  (acc, x) -> named_struct(
    'l', {lnew},
    'b', {bnew},
    {step_s},
    't', acc.t + 1
  )
)"""
    st = one.select(
        F.expr(fold).alias("f"), F.expr("size(arr)").alias("dd")
    )
    fcast = _hw_case("f.", "(dd - 1 + h)")
    return st.select(
        F.explode(F.sequence(F.lit(1), F.lit(7))).alias("h0"), "f", "dd"
    ).select(
        F.col("h0").cast("long").alias("h"),
        F.round(F.expr(f"f.l + h0 * f.b + {fcast}"), 4).alias("forecast"),
    )


# --------------------------------------------------------------------------
# DP median via the exponential mechanism (round 5)
# --------------------------------------------------------------------------
@register(
    "q_dp_median",
    driver=False,  # §2.11 privacy tier (round 5) — pytest oracle
    oracle="""
WITH c AS (
  SELECT event_type,
         CAST(round(least(greatest(value, 0.0), 200.0) * 100) AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL
), hist AS (
  SELECT event_type, cents, CAST(count(*) AS BIGINT) AS cnt
  FROM c GROUP BY 1, 2
), tot AS (
  SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n FROM hist GROUP BY 1
), cand AS (
  SELECT CAST(500 * g.x AS BIGINT) AS cd
  FROM (SELECT unnest(generate_series(0, 40)) AS x) g
), ranked AS (
  SELECT t.event_type, t.n, cand.cd,
         coalesce(CAST(sum(CASE WHEN h.cents < cand.cd THEN h.cnt END) AS BIGINT), 0) AS below
  FROM tot t CROSS JOIN cand
  LEFT JOIN hist h ON h.event_type = t.event_type
  GROUP BY 1, 2, 3
), scored AS (
  SELECT event_type, n, cd,
         -abs(2 * below - n) AS u2,
         CAST('0x' || substr(md5('dpm|' || event_type || '|' || CAST(cd AS VARCHAR)), 1, 15) AS BIGINT)
           / 1152921504606846976.0 AS u
  FROM ranked
), g AS (
  SELECT event_type, n, cd,
         1.0 * u2 / 2.0 / 2.0 - ln(-ln(greatest(u, 1e-18))) AS gumbel_score
  FROM scored
), pick AS (
  SELECT event_type, n, cd,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY gumbel_score DESC, cd) AS rn
  FROM g
)
SELECT event_type, n, round(cd / 100.0, 2) AS dp_median, CAST(1.0 AS DOUBLE) AS epsilon
FROM pick WHERE rn = 1
""",
)
def q_dp_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private MEDIAN per event type via the EXPONENTIAL
    MECHANISM (SURVEY §2.11 privacy tier — the selection-query companion
    to Laplace count releases): candidates are a fixed $5 grid over
    the clamped value range; each candidate's utility is −|2·rank(c) − n|
    (distance from the median in rank space, sensitivity 2 under
    add/remove); selection uses the Gumbel-max trick — argmax of
    ε·u/(2Δu) + Gumbel(md5-seed) IS an exponential-mechanism draw — so
    the release is md5-replayable (production
    swaps real entropy; this query becomes its test harness).

    Scale: the rank census is a value-HISTOGRAM join (candidates ×
    distinct clamped cents, both bounded by the grid/clamp — never row
    count); one shuffle on event_type builds the histogram, everything
    after is metadata."""
    c = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.round(
                F.least(F.greatest(F.col("value"), F.lit(0.0)), F.lit(200.0)) * 100
            )
            .cast("long")
            .alias("cents"),
        )
    )
    hist = c.groupBy("event_type", "cents").agg(F.count("*").alias("cnt"))
    tot = hist.groupBy("event_type").agg(F.sum("cnt").alias("n"))
    cand = spark.range(0, 41).select((F.col("id") * 500).alias("cd"))
    ranked = (
        tot.crossJoin(F.broadcast(cand))
        .join(hist, "event_type", "left")
        .groupBy("event_type", "n", "cd")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("cents") < F.col("cd"), F.col("cnt"))), F.lit(0)
            ).alias("below")
        )
    )
    u2 = -F.abs(2 * F.col("below") - F.col("n"))
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("dpm|"),
                        F.col("event_type"),
                        F.lit("|"),
                        F.col("cd").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        / F.lit(1152921504606846976.0)
    )
    score = (
        F.lit(1.0) * u2 / 2.0 / 2.0
        - F.log(-F.log(F.greatest(u, F.lit(1e-18))))
    )
    w = Window.partitionBy("event_type").orderBy(F.desc("gumbel_score"), "cd")
    return (
        ranked.withColumn("gumbel_score", score)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            "n",
            F.round(F.col("cd") / 100.0, 2).alias("dp_median"),
            F.lit(1.0).alias("epsilon"),
        )
    )


# --------------------------------------------------------------------------
# Tamper-evident hash-chain ledger (round 5)
# --------------------------------------------------------------------------
@register(
    "q_hash_chain_ledger",
    driver=False,  # §2.11 audit/provenance tier (round 5) — pytest oracle
    oracle="""
WITH it AS (
  SELECT user_id, event_id,
         CAST(event_id AS VARCHAR) || ':' ||
           CAST(CAST(round(coalesce(value, 0.0) * 100) AS BIGINT) AS VARCHAR) AS item
  FROM events
), ordered AS (
  SELECT user_id, list_transform(
           list_sort(list(struct_pack(e := event_id, s := item))),
           x -> x.s) AS items
  FROM it GROUP BY user_id
)
SELECT user_id,
       CAST(len(items) AS BIGINT) AS n_events,
       list_reduce(list_prepend('GENESIS', items),
                   (a, b) -> md5(a || '|' || b)) AS chain_head
FROM ordered
""",
)
def q_hash_chain_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tamper-evident per-user hash chain over the event log (SURVEY §2.11
    audit/provenance tier, beside `_metadata` provenance): each user's
    events fold in event-id order through h ← md5(h ∥ '|' ∥ event), seeded
    from a GENESIS block — the blockchain-ledger construction that makes
    any retroactive edit, insert, or reorder change the chain head. Both
    engines run the identical fold (Spark codegen ``aggregate``, DuckDB
    ``list_reduce`` over the GENESIS-prepended list), so the heads are
    byte-equal — which is itself the point: chain heads are portable
    audit commitments, comparable across engines and over time.

    Scale: one shuffle to user_id; the fold is per-user work proportional
    to that user's history (the applyInPandas escape hatch takes over for
    million-event entities). Verification at 100 TB is embarrassingly
    parallel: re-fold each user independently, compare heads."""
    it = table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.concat(
            F.col("event_id").cast("string"),
            F.lit(":"),
            F.round(F.coalesce(F.col("value"), F.lit(0.0)) * 100)
            .cast("long")
            .cast("string"),
        ).alias("item"),
    )
    ordered = it.groupBy("user_id").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(event_id AS e, item AS s))), x -> x.s)"
        ).alias("items")
    )
    return ordered.select(
        "user_id",
        F.size("items").cast("long").alias("n_events"),
        F.expr(
            "aggregate(items, 'GENESIS', (a, b) -> md5(concat(a, '|', b)))"
        ).alias("chain_head"),
    )


# --------------------------------------------------------------------------
# Cumulative gains / lift chart (round 5 continuation)
# --------------------------------------------------------------------------
@register(
    "q_gain_lift",
    driver=False,  # §2.11 classifier-eval extension (round 5) — pytest oracle
    oracle="""
WITH pu AS (
  SELECT user_id,
         sum(CASE WHEN event_type = 'click'
                  THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS score,
         max(CASE WHEN event_type = 'purchase' AND round(value * 100) >= 15000
                  THEN 1 ELSE 0 END) AS pos
  FROM events GROUP BY user_id
), dec AS (
  SELECT score, pos, ntile(10) OVER (ORDER BY score DESC, user_id) AS decile
  FROM pu
), per AS (
  SELECT decile, CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(pos) AS BIGINT) AS positives
  FROM dec GROUP BY decile
), tot AS (
  SELECT CAST(sum(n_users) AS BIGINT) AS n, CAST(sum(positives) AS BIGINT) AS p
  FROM per
)
SELECT decile, n_users, positives,
       CASE WHEN p > 0 THEN
         round(sum(positives) OVER (ORDER BY decile) / CAST(p AS DOUBLE), 6)
       END AS cum_gain,
       CASE WHEN p > 0 THEN
         round((sum(positives) OVER (ORDER BY decile) / CAST(p AS DOUBLE))
               / (sum(n_users) OVER (ORDER BY decile) / CAST(n AS DOUBLE)), 6)
       END AS lift
FROM per CROSS JOIN tot
ORDER BY decile
""",
)
def q_gain_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains and lift by score decile: rank users by total click
    spend, label = "made a ≥ $150 purchase", report what share of all
    positives the top-k deciles capture and the lift over random targeting
    (SURVEY §2.11 classifier-eval family — the campaign-targeting readout
    next to q_calibration's reliability deciles). ntile runs over the
    engine-stable (score DESC, user_id) total order; per-decile censuses
    are exact integers; cumulative gain/lift divide once at the end, NULL
    when the fixture has no positives.

    Scale: the per-user agg shuffles once; ntile's global window is a
    single task over USERS (not events) — at 100 TB swap in the
    pre-aggregated decile boundaries from approx quantiles, same output
    contract. ntile's int (Spark) vs bigint (DuckDB) is canon-equal —
    do not cast (oracle-parity-gotchas)."""
    pu = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("event_type") == "click", F.round(F.col("value") * 100).cast("long")).otherwise(0)
            ).alias("score"),
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.round(F.col("value") * 100) >= 15000),
                    1,
                ).otherwise(0)
            ).alias("pos"),
        )
    )
    dec = pu.select(
        "score",
        "pos",
        F.ntile(10).over(Window.orderBy(F.col("score").desc(), F.col("user_id"))).alias("decile"),
    )
    per = dec.groupBy("decile").agg(
        F.count("*").alias("n_users"), F.sum("pos").alias("positives")
    )
    tot = per.agg(F.sum("n_users").alias("n"), F.sum("positives").alias("p"))
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    j = per.crossJoin(F.broadcast(tot))
    cum_pos = F.sum("positives").over(w)
    cum_n = F.sum("n_users").over(w)
    has_pos = F.col("p") > 0
    return j.select(
        "decile",
        "n_users",
        "positives",
        F.when(has_pos, F.round(cum_pos / F.col("p").cast("double"), 6)).alias("cum_gain"),
        F.when(
            has_pos,
            F.round(
                (cum_pos / F.col("p").cast("double")) / (cum_n / F.col("n").cast("double")), 6
            ),
        ).alias("lift"),
    ).orderBy("decile")


# --------------------------------------------------------------------------
# Decision stump (exact 1-D split search, round 5 continuation)
# --------------------------------------------------------------------------
@register(
    "q_decision_stump",
    driver=False,  # §2.11 ML-eval family (round 5) — pytest oracle
    oracle="""
WITH pts AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS x,
         CASE WHEN CAST(round(o_totalprice * 100) AS BIGINT)
                   + CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)
                          AS BIGINT) % 10000000
                   >= 28000000 THEN 1 ELSE 0 END AS y
  FROM orders
), thr AS (
  SELECT x AS t, CAST(count(*) AS BIGINT) AS cnt, CAST(sum(y) AS BIGINT) AS pos
  FROM pts GROUP BY x
), cum AS (
  SELECT t,
         CAST(sum(cnt) OVER (ORDER BY t) AS BIGINT) AS nl,
         CAST(sum(pos) OVER (ORDER BY t) AS BIGINT) AS al
  FROM thr
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos FROM pts
), scored AS (
  SELECT t, nl, al, n - nl AS nr, pos - al AS ar, n,
         least(al, nl - al)
           + least(pos - al, (n - nl) - (pos - al)) AS errors
  FROM cum, tot
  WHERE nl < n
), best AS (
  SELECT * FROM scored ORDER BY errors, t LIMIT 1
)
SELECT t AS threshold_cents, nl AS n_left, nr AS n_right,
       CAST(errors AS BIGINT) AS errors,
       round(1.0 - errors / CAST(n AS DOUBLE), 6) AS accuracy,
       round((nl - (CAST(al AS DOUBLE) * al
                    + CAST(nl - al AS DOUBLE) * (nl - al)) / nl) / n
             + (nr - (CAST(ar AS DOUBLE) * ar
                      + CAST(nr - ar AS DOUBLE) * (nr - ar)) / nr) / n, 6)
         AS weighted_gini
FROM best
""",
)
def q_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact decision-stump training: the best single threshold on order
    price (cents) predicting a noisy-boundary label (price plus an
    md5-derived jitter crossing a fixed line — deterministic, RNG-free,
    and genuinely learnable: the stump must recover the boundary region
    through the noise). SURVEY §2.11 ML-eval tier — the one-split tree
    every AutoML baseline and every gradient-boosting iteration evaluates
    millions of times.
    Candidate thresholds are the distinct feature values; per-threshold
    class censuses come from ONE cumulative window over the sorted
    threshold table, and the split is chosen by exact INTEGER
    misclassification count (tie → smaller threshold), so the argmin is
    engine-deterministic with no float comparison. The weighted Gini of
    the chosen split is reported through one shared IEEE tree (squares
    widen to DOUBLE before multiplying — the ADVICE r4 lesson).

    Scale: one groupBy on the feature + one prefix-sum window. The window
    here is a global ORDER BY over distinct feature values — fine for a
    price-grained domain; at 100 TB bin candidates to an equi-depth
    histogram first (q_histogram_equidepth — exactly what MLlib's
    maxBins does) and the window runs over B metadata-sized bins."""
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    jitter = _md5_int(F.col("o_orderkey").cast("string")) % 10_000_000
    pts = table(spark, sf_dir, "orders").select(
        cents.alias("x"),
        F.when(cents + jitter >= 28_000_000, 1).otherwise(0).alias("y"),
    )
    thr = pts.groupBy(F.col("x").alias("t")).agg(
        F.count("*").alias("cnt"), F.sum("y").alias("pos")
    )
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    cum = thr.select(
        "t",
        F.sum("cnt").over(w).alias("nl"),
        F.sum("pos").over(w).alias("al"),
    )
    tot = pts.agg(F.count("*").alias("n"), F.sum("y").alias("pos"))
    n, pos, nl, al = F.col("n"), F.col("pos"), F.col("nl"), F.col("al")
    scored = (
        cum.crossJoin(F.broadcast(tot))
        .filter(nl < n)
        .select(
            "t",
            "nl",
            "al",
            (n - nl).alias("nr"),
            (pos - al).alias("ar"),
            "n",
            (
                F.least(al, nl - al)
                + F.least(pos - al, (n - nl) - (pos - al))
            ).alias("errors"),
        )
    )
    best = scored.orderBy("errors", "t").limit(1)
    nr, ar, errors = F.col("nr"), F.col("ar"), F.col("errors")
    gini = (
        nl - (al.cast("double") * al + (nl - al).cast("double") * (nl - al)) / nl
    ) / n + (
        nr - (ar.cast("double") * ar + (nr - ar).cast("double") * (nr - ar)) / nr
    ) / n
    return best.select(
        F.col("t").alias("threshold_cents"),
        F.col("nl").alias("n_left"),
        nr.alias("n_right"),
        errors.cast("long").alias("errors"),
        F.round(1.0 - errors / n.cast("double"), 6).alias("accuracy"),
        F.round(gini, 6).alias("weighted_gini"),
    )


# --------------------------------------------------------------------------
# Isotonic calibration via the minimax (max-min) PAV identity (round 5)
# --------------------------------------------------------------------------
@register(
    "q_isotonic_calibration",
    driver=False,  # §2.11 ML-eval family (round 5) — pytest oracle
    oracle=f"""
WITH scored AS (
  SELECT event_id, {_SCORE_SQL} AS score,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events WHERE value IS NOT NULL
), binned AS (
  SELECT ntile(20) OVER (ORDER BY score, event_id) AS b, y FROM scored
), bins AS (
  SELECT b, CAST(count(*) AS BIGINT) AS n_b, CAST(sum(y) AS BIGINT) AS pos_b
  FROM binned GROUP BY b
), cum AS (
  SELECT b, n_b, pos_b,
         CAST(sum(n_b) OVER (ORDER BY b) AS BIGINT)   AS cn,
         CAST(sum(pos_b) OVER (ORDER BY b) AS BIGINT) AS cp
  FROM bins
), seg AS (
  SELECT j.b AS j, k.b AS k,
         CAST(k.cp - j.cp + j.pos_b AS DOUBLE)
           / (k.cn - j.cn + j.n_b) AS seg_mean
  FROM cum j JOIN cum k ON j.b <= k.b
), inner_min AS (
  SELECT i.b AS b, s.j, min(s.seg_mean) AS m
  FROM bins i JOIN seg s ON s.j <= i.b AND s.k >= i.b
  GROUP BY i.b, s.j
), iso AS (
  SELECT b, max(m) AS iso_rate FROM inner_min GROUP BY b
)
SELECT bins.b AS bin, bins.n_b AS n,
       round(CAST(bins.pos_b AS DOUBLE) / bins.n_b, 6) AS observed_rate,
       round(iso.iso_rate, 6) AS iso_rate
FROM bins JOIN iso ON iso.b = bins.b
""",
)
def q_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic-regression calibration (pool-adjacent-violators) of the
    q_calibration reliability curve: the monotone step function closest
    in weighted L2 to the per-bin observed positive rates — the
    calibration map production scorers apply at inference (SURVEY §2.11
    ML-eval tier, the non-parametric alternative to Platt scaling).
    PAV's sequential pooling is replaced by the equivalent CLOSED-FORM
    minimax identity iso(i) = max_{{j≤i}} min_{{k≥i}} mean(y, bins j..k),
    which is pure relational algebra: 20 ntile bins → prefix sums → the
    O(B²) segment-mean table → an (i,j) min / i max cascade. Segment
    means are single divisions of identical exact integers, so every
    comparison sees bit-identical doubles in both engines and the whole
    query is hash-oracle-checkable (no iterative pooling to diverge).
    The result is monotone by construction — pinned in pytest along with
    a pure-python PAV replay.

    Scale: the data-sized work is one global ntile (at 100 TB: broadcast
    quantile cutpoints instead, as q_calibration documents) and one
    bin rollup; the minimax cascade runs on B²≈400 metadata rows."""
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    scored = e.select(
        "event_id",
        _score_col().alias("score"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    binned = scored.select(
        F.ntile(20).over(Window.orderBy("score", "event_id")).alias("b"), "y"
    )
    bins = binned.groupBy("b").agg(
        F.count("*").alias("n_b"), F.sum("y").alias("pos_b")
    )
    wc = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    cum = bins.select(
        "b", "n_b", "pos_b",
        F.sum("n_b").over(wc).alias("cn"),
        F.sum("pos_b").over(wc).alias("cp"),
    )
    j, k = cum.alias("j"), cum.alias("k")
    seg = j.join(k, F.col("j.b") <= F.col("k.b")).select(
        F.col("j.b").alias("j"),
        F.col("k.b").alias("k"),
        (
            (F.col("k.cp") - F.col("j.cp") + F.col("j.pos_b")).cast("double")
            / (F.col("k.cn") - F.col("j.cn") + F.col("j.n_b"))
        ).alias("seg_mean"),
    )
    inner_min = (
        bins.select(F.col("b").alias("i"))
        .join(seg, (F.col("j") <= F.col("i")) & (F.col("k") >= F.col("i")))
        .groupBy("i", "j")
        .agg(F.min("seg_mean").alias("m"))
    )
    iso = inner_min.groupBy("i").agg(F.max("m").alias("iso_rate"))
    return bins.join(iso, bins.b == iso.i).select(
        F.col("b").alias("bin"),
        F.col("n_b").alias("n"),
        F.round(F.col("pos_b").cast("double") / F.col("n_b"), 6).alias(
            "observed_rate"
        ),
        F.round(F.col("iso_rate"), 6).alias("iso_rate"),
    )


@register("q_gmm_em", driver=False)  # rows-only: EM responsibilities chain exp/sqrt libm per row across 10 iterations (SURVEY §7.4.4); numpy-replay-pinned in tests
def q_gmm_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-component 1-D Gaussian mixture fit by EM over purchase values
    (operators/clustering.gmm_em_1d): soft price-band modeling where
    k-means' hard assignment misleads — overlapping components get
    responsibility-weighted parameters instead of a boundary cut (SURVEY
    §2.11 clustering tier beside q_kmeans/q_semantic_dedup). Initialization is
    RNG-free (rank-picked quartile means, population variance) and EM
    runs a fixed 10 iterations, so the fit is a deterministic function
    of the data; each iteration is ONE scan + ONE moment aggregation
    with 5 broadcast scalars — the k-means iteration shape exactly.

    Rows-only by nature: per-row exp()/sqrt() responsibilities summed
    across engines cannot hold a fixed rounding depth over 10 chained
    iterations — the pin is an independent numpy EM replay (identical
    inits, iteration count, and update equations).

    Scale: 10 × (scan + partial/final agg); cache the cents projection
    once; parameters are 6 scalars per round (never data on the
    driver)."""
    from ..operators.clustering import gmm_em_1d

    vals = (
        table(spark, sf_dir, "events")
        .filter((F.col("event_type") == "purchase") & F.col("value").isNotNull())
        .select(F.round(F.col("value") * 100).cast("long").alias("c"))
    )
    vals = vals.cache()
    try:
        params = gmm_em_1d(vals, n_iter=10)
    finally:
        vals.unpersist()
    return spark.createDataFrame(
        [
            (comp, round(w, 6), round(mu / 100.0, 4), round(math.sqrt(v) / 100.0, 4))
            for comp, w, mu, v in params
        ],
        "component int, weight double, mean_dollars double, sd_dollars double",
    )


# --------------------------------------------------------------------------
# Uplift by segment (two-model difference, round 5 continuation)
# --------------------------------------------------------------------------
@register(
    "q_uplift_segments",
    driver=False,  # §2.11 experimentation family (round 5) — pytest oracle
    oracle="""
WITH u AS (
  SELECT user_id,
         CASE WHEN CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)
                   AS BIGINT) % 2 = 0 THEN 'control' ELSE 'treatment' END AS arm,
         CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS converted,
         CAST(count(*) AS BIGINT) AS activity
  FROM events GROUP BY user_id
), seg AS (
  SELECT arm, converted,
         CASE WHEN activity < 50 THEN 'low'
              WHEN activity < 80 THEN 'mid' ELSE 'high' END AS segment
  FROM u
), g AS (
  SELECT segment,
         CAST(sum(CASE WHEN arm = 'treatment' THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
         CAST(sum(CASE WHEN arm = 'control' THEN 1 ELSE 0 END) AS BIGINT)   AS n_c,
         CAST(sum(CASE WHEN arm = 'treatment' THEN converted ELSE 0 END)
              AS BIGINT) AS conv_t,
         CAST(sum(CASE WHEN arm = 'control' THEN converted ELSE 0 END)
              AS BIGINT) AS conv_c
  FROM seg GROUP BY segment
)
SELECT segment, n_t, n_c, conv_t, conv_c,
       CASE WHEN n_t > 0 AND n_c > 0 THEN
         round(conv_t / CAST(n_t AS DOUBLE)
               - conv_c / CAST(n_c AS DOUBLE), 6)
       END AS uplift
FROM g
""",
)
def q_uplift_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment uplift (two-model difference): treatment-minus-control
    conversion rate inside activity segments — WHERE does the treatment
    work, the heterogeneous-treatment-effect readout that follows a
    passing sample-ratio check and a significant q_ab_test (SURVEY §2.11
    experimentation tier). Arms replay an md5-deterministic assignment
    (zero RNG, recomputable anywhere); conversion is ever-purchased per
    user; segments are activity bands. All censuses are exact integers
    from ONE user-level rollup; uplift is one double subtraction per
    segment.

    Scale: one user-keyed partial/final agg (the contraction), then a
    3-row segment census — the same shape at any corpus size."""
    u = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("converted"),
            F.count("*").alias("activity"),
        )
        .select(
            F.when(
                F.conv(
                    F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
                    16,
                    10,
                ).cast("long")
                % 2
                == 0,
                "control",
            )
            .otherwise("treatment")
            .alias("arm"),
            "converted",
            F.when(F.col("activity") < 50, "low")
            .when(F.col("activity") < 80, "mid")
            .otherwise("high")
            .alias("segment"),
        )
    )
    g = u.groupBy("segment").agg(
        F.sum(F.when(F.col("arm") == "treatment", 1).otherwise(0)).alias("n_t"),
        F.sum(F.when(F.col("arm") == "control", 1).otherwise(0)).alias("n_c"),
        F.sum(
            F.when(F.col("arm") == "treatment", F.col("converted")).otherwise(0)
        ).alias("conv_t"),
        F.sum(
            F.when(F.col("arm") == "control", F.col("converted")).otherwise(0)
        ).alias("conv_c"),
    )
    return g.select(
        "segment",
        "n_t",
        "n_c",
        "conv_t",
        "conv_c",
        F.when(
            (F.col("n_t") > 0) & (F.col("n_c") > 0),
            F.round(
                F.col("conv_t") / F.col("n_t").cast("double")
                - F.col("conv_c") / F.col("n_c").cast("double"),
                6,
            ),
        ).alias("uplift"),
    )


# --------------------------------------------------------------------------
# Split-conformal prediction interval (round 6)
# --------------------------------------------------------------------------
@register(
    "q_conformal_interval",
    driver=False,  # §2.3 ML-eval tier — pytest oracle
    oracle="""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS rev_c
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1
), resid0 AS (
  SELECT day, abs(rev_c - lag(rev_c) OVER (ORDER BY day)) AS ar
  FROM daily
), resid AS (
  SELECT ar, row_number() OVER (ORDER BY day) AS dn
  FROM resid0 WHERE ar IS NOT NULL
), split AS (
  SELECT ar, dn,
         CASE WHEN dn <= (SELECT count(*) FROM resid) // 2
              THEN 'cal' ELSE 'test' END AS part
  FROM resid
), qhat AS (
  SELECT ar AS q_c FROM (
    SELECT ar, row_number() OVER (ORDER BY ar, dn) AS rk,
           count(*) OVER () AS n_cal
    FROM split WHERE part = 'cal'
  ) WHERE rk = (9 * (n_cal + 1) + 9) // 10
)
SELECT CAST((SELECT count(*) FROM split WHERE part = 'cal') AS BIGINT)  AS n_cal,
       CAST((SELECT count(*) FROM split WHERE part = 'test') AS BIGINT) AS n_test,
       CAST(q_c AS BIGINT) AS q_hat_cents,
       round((SELECT sum(CASE WHEN ar <= q_c THEN 1 ELSE 0 END)
              FROM split WHERE part = 'test')
             * 1.0
             / (SELECT count(*) FROM split WHERE part = 'test'), 6) AS coverage
FROM qhat
""",
)
def q_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction interval (SURVEY §2.3 ML-eval tier,
    beside q_calibration / q_auc_brier): the distribution-free interval
    for a naive day-ahead revenue forecaster. Absolute persistence
    residuals |y_t − y_{t−1}| split chronologically: the calibration
    half's ⌈(n+1)·0.9⌉-th smallest residual (EXACT integer rank —
    ceil(9(n+1)/10) = (9(n+1)+9) div 10, no double quantile) is the
    conformal radius q̂; the held-out half reports empirical coverage,
    which conformal theory lower-bounds at 90% on exchangeable data. All
    arithmetic is cents-integer; one divide for the coverage ratio.

    Scale: the residual series is |days| rows (window-bounded metadata),
    so rank selection is a one-partition window — the data-sized work is
    the daily rollup's single shuffle."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    daily = e.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("rev_c")
    )
    w = Window.orderBy("day")
    resid = (
        daily.select(
            "day", F.abs(F.col("rev_c") - F.lag("rev_c").over(w)).alias("ar")
        )
        .filter(F.col("ar").isNotNull())
        .select("ar", F.row_number().over(w).alias("dn"))
    )
    n_resid = resid.count()  # |days|-bounded metadata scalar
    split = resid.withColumn(
        "part",
        F.when(F.col("dn") <= n_resid // 2, F.lit("cal")).otherwise(F.lit("test")),
    )
    cal = split.filter(F.col("part") == "cal")
    n_cal = cal.count()
    k = (9 * (n_cal + 1) + 9) // 10
    wq = Window.orderBy("ar", "dn")
    qhat = cal.select("ar", F.row_number().over(wq).alias("rk")).filter(
        F.col("rk") == k
    )
    test = split.filter(F.col("part") == "test")
    cov = test.crossJoin(F.broadcast(qhat.select(F.col("ar").alias("q_c")))).agg(
        F.count("*").alias("n_test"),
        F.sum(F.when(F.col("ar") <= F.col("q_c"), 1).otherwise(0)).alias("covered"),
        F.first("q_c").alias("q_c"),
    )
    return cov.select(
        F.lit(n_cal).cast("long").alias("n_cal"),
        F.col("n_test").cast("long").alias("n_test"),
        F.col("q_c").cast("long").alias("q_hat_cents"),
        F.round(F.col("covered") * 1.0 / F.col("n_test"), 6).alias("coverage"),
    )


# --------------------------------------------------------------------------
# Average precision / PR-AUC (round 6)
# --------------------------------------------------------------------------
@register(
    "q_average_precision",
    driver=False,  # §2.11 model-evaluation extension — pytest oracle
    oracle=f"""
WITH scored AS (
  SELECT {_SCORE_SQL} AS score,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events WHERE value IS NOT NULL
), grp AS (
  SELECT score,
         CAST(sum(y) AS BIGINT) AS tp_g,
         CAST(count(*) AS BIGINT) AS n_g
  FROM scored GROUP BY score
), cum AS (
  SELECT tp_g,
         CAST(sum(tp_g) OVER w AS BIGINT) AS cum_tp,
         CAST(sum(n_g) OVER w AS BIGINT)  AS cum_n
  FROM grp WINDOW w AS (ORDER BY score DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), terms AS (
  -- integer-scaled exact group terms (the q_katz/q_dsir_select quantization
  -- discipline): term = tp_g · precision_after_group, scaled by 1e9 and
  -- floored — identical integers in both engines. The product is widened
  -- to HUGEINT (Spark: decimal(38,0)) because past tp_g·cumTP ≈ 9.2e9 a
  -- plain int64 product wraps silently in Spark but raises in DuckDB
  -- (ADVICE r6); each FLOORED term is ≤ tp_g·1e9, so the outer sum
  -- (≤ n⁺·1e9) narrows back to BIGINT safely
  SELECT CAST(sum((CAST(tp_g AS HUGEINT) * cum_tp * 1000000000) // cum_n)
              AS BIGINT) AS s9,
         CAST(max(cum_tp) AS BIGINT) AS np,
         CAST(max(cum_n) AS BIGINT)  AS n
  FROM cum
)
SELECT n, np,
       round(s9 * 1.0 / np / 1000000000, 6) AS average_precision
FROM terms
""",
)
def q_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision (PR-AUC) — the class-imbalance companion to
    q_auc_brier's ROC AUC (SURVEY §2.11 model-evaluation tier): AP =
    Σ_thresholds ΔRecall · Precision with one threshold per DISTINCT
    score (tie groups enter atomically, the scikit step convention).
    Each group term tp_g·cumTP/cumN is kept EXACT by ×1e9 integer
    scaling + floor division — both engines sum identical int64 terms
    (a 10⁴-group double sum drifts at the 6th decimal); the only double
    divide is the final Σ/(n⁺·1e9). Flooring biases AP down by
    < groups/1e9/n⁺ ≈ 1e-8 — beneath the 6 dp output.

    Scale: one groupBy on score + one ordered window over the distinct-
    score table (domain-sized after the contraction) — the same shape as
    q_auc_brier; nothing re-touches the event volume."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    scored = e.select(
        _score_col().alias("score"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    grp = scored.groupBy("score").agg(
        F.sum("y").cast("long").alias("tp_g"),
        F.count("*").cast("long").alias("n_g"),
    )
    w = Window.orderBy(F.col("score").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = grp.select(
        "tp_g",
        F.sum("tp_g").over(w).cast("long").alias("cum_tp"),
        F.sum("n_g").over(w).cast("long").alias("cum_n"),
    )
    # decimal(38,0) product — int64 wraps silently past tp_g·cumTP ≈ 9.2e9
    # while DuckDB raises; the q_item_cf/q_realized_vol widening discipline
    # applied here too (ADVICE r6), narrowing back only after the floor div
    terms = cum.agg(
        F.sum(
            F.expr(
                "cast(cast(tp_g as decimal(38,0)) * cum_tp * 1000000000"
                " div cum_n as bigint)"
            )
        )
        .cast("long")
        .alias("s9"),
        F.max("cum_tp").cast("long").alias("np"),
        F.max("cum_n").cast("long").alias("n"),
    )
    return terms.select(
        "n",
        "np",
        F.round(F.col("s9") * 1.0 / F.col("np") / 1000000000, 6).alias(
            "average_precision"
        ),
    )


# --------------------------------------------------------------------------
# Weight-of-evidence / information value (round 7)
# --------------------------------------------------------------------------
@register(
    "q_woe_iv",
    driver=False,  # §2.11 feature-engineering tier beside q_calibration
    oracle="""
WITH base AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS c,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events WHERE value IS NOT NULL
), b AS (
  SELECT min(c) AS lo, max(c) AS hi FROM base
), binned AS (
  SELECT CASE WHEN hi - lo <= 0 THEN 0
              ELSE ((c - lo) * 9) // (hi - lo) END AS bin, y
  FROM base, b
), per AS (
  SELECT bin,
         CAST(sum(1 - y) AS BIGINT) AS g,
         CAST(sum(y) AS BIGINT) AS bd
  FROM binned GROUP BY bin
), tot AS (
  SELECT CAST(sum(g) AS BIGINT) AS gt, CAST(sum(bd) AS BIGINT) AS bt,
         CAST(count(*) AS BIGINT) AS nb
  FROM per
), sm AS (
  -- Laplace smoothing: +1 per cell, +nb on each total, so empty cells
  -- never hit ln(0) and both engines smooth identically in integers
  SELECT g + 1 AS gs, bd + 1 AS bs, gt + nb AS gts, bt + nb AS bts, nb
  FROM per, tot
), woe AS (
  SELECT gs, bs, gts, bts, nb,
         CAST(round(ln((gs * 1.0 * bts) / (bs * 1.0 * gts)) * 1000000)
              AS BIGINT) AS woe_u
  FROM sm
)
SELECT CAST(max(nb) AS BIGINT) AS n_bins,
       CAST(max(gts) - max(nb) AS BIGINT) AS n_good,
       CAST(max(bts) - max(nb) AS BIGINT) AS n_bad,
       round(min(woe_u) / 1000000.0, 6) AS woe_min,
       round(max(woe_u) / 1000000.0, 6) AS woe_max,
       round(CAST(sum((CAST(gs AS HUGEINT) * bts - CAST(bs AS HUGEINT) * gts)
                      * woe_u) AS DOUBLE)
             / (max(gts) * 1.0 * max(bts)) / 1000000, 6) AS iv
FROM woe
""",
)
def q_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight of evidence + information value of a binned numeric feature
    against the purchase outcome — the credit-scoring / feature-audit
    staple (IV < 0.02 ⇒ useless, > 0.5 ⇒ suspicious leakage). Value cents
    quantize into 10 equi-width bins (exact integer floor division against
    the data min/max — the operators.zorder.quantize_expr identity);
    WOE_i = ln(good-share/bad-share) with +1/+n_bins Laplace smoothing so
    empty cells never diverge the engines on ln(0).

    Engine parity: WOE quantizes to integer micro-nats; the IV sum runs
    over EXACT 128-bit integers (gs·Bt − bs·Gt)·woe_u — the
    q_average_precision widening discipline — with one double division at
    the end.

    Scale: one narrow scan into a 10-row bin rollup (partial+final);
    everything past the first agg is metadata-sized."""
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    base = e.select(
        F.round(F.col("value") * 100).cast("long").alias("c"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    b = base.agg(F.min("c").alias("lo"), F.max("c").alias("hi"))
    span = (F.col("hi") - F.col("lo")).cast("long")
    num = ((F.col("c") - F.col("lo")) * 9).cast("long")
    binned = base.crossJoin(F.broadcast(b)).select(
        F.when(span <= 0, F.lit(0).cast("long"))
        .otherwise(((num - num % span) / span).cast("long"))
        .alias("bin"),
        "y",
    )
    per = binned.groupBy("bin").agg(
        F.sum(1 - F.col("y")).cast("long").alias("g"),
        F.sum("y").cast("long").alias("bd"),
    )
    tot = per.agg(
        F.sum("g").cast("long").alias("gt"),
        F.sum("bd").cast("long").alias("bt"),
        F.count("*").cast("long").alias("nb"),
    )
    hi = "decimal(38,0)"
    sm = per.crossJoin(F.broadcast(tot)).select(
        (F.col("g") + 1).alias("gs"),
        (F.col("bd") + 1).alias("bs"),
        (F.col("gt") + F.col("nb")).alias("gts"),
        (F.col("bt") + F.col("nb")).alias("bts"),
        "nb",
    )
    woe = sm.select(
        "gs",
        "bs",
        "gts",
        "bts",
        "nb",
        F.round(
            F.log(
                (F.col("gs") * 1.0 * F.col("bts")) / (F.col("bs") * 1.0 * F.col("gts"))
            )
            * 1000000
        )
        .cast("long")
        .alias("woe_u"),
    )
    return woe.agg(
        F.max("nb").cast("long").alias("n_bins"),
        (F.max("gts") - F.max("nb")).cast("long").alias("n_good"),
        (F.max("bts") - F.max("nb")).cast("long").alias("n_bad"),
        F.round(F.min("woe_u") / 1000000.0, 6).alias("woe_min"),
        F.round(F.max("woe_u") / 1000000.0, 6).alias("woe_max"),
        F.round(
            F.sum(
                (
                    F.col("gs").cast(hi) * F.col("bts")
                    - F.col("bs").cast(hi) * F.col("gts")
                )
                * F.col("woe_u")
            ).cast("double")
            / (F.max("gts") * 1.0 * F.max("bts"))
            / 1000000,
            6,
        ).alias("iv"),
    )


# --------------------------------------------------------------------------
# Change-point detection: binary segmentation, one split (round 7)
# --------------------------------------------------------------------------
@register(
    "q_changepoint_per_key",
    # driver slot since r8 (VERDICT r7 #1): per-key change-point detection
    oracle="""
WITH daily AS (
  SELECT event_type,
         CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS flow_c
  FROM events WHERE value IS NOT NULL
  GROUP BY 1, 2
), pre AS (
  SELECT event_type, day, flow_c,
         CAST(sum(flow_c) OVER w AS BIGINT) AS s1,
         CAST(row_number() OVER w AS BIGINT) AS n1,
         CAST(sum(flow_c) OVER (PARTITION BY event_type) AS BIGINT) AS s,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), scored AS (
  -- gain(t) ∝ (s1·n2 − s2·n1)² / (n1·n2) with s2=s−s1, n2=n−n1: the
  -- between-segment SSE reduction up to the common 1/n factor. Ranked by
  -- the CROSS-MULTIPLIED exact integers (d² · n1'·n2' vs d'² · n1·n2) —
  -- never by the divided double (the q_item_cf ranking discipline)
  SELECT event_type, day, n1, n - n1 AS n2,
         CAST(s1 AS HUGEINT) * (n - n1) - CAST(s - s1 AS HUGEINT) * n1 AS d,
         CAST(n1 AS HUGEINT) * (n - n1) AS w2
  FROM pre WHERE n1 < n
), best AS (
  SELECT event_type, day, n1, n2, d, w2,
         row_number() OVER (
           PARTITION BY event_type
           ORDER BY CASE WHEN d < 0 THEN -d ELSE d END DESC, day
         ) AS pre_rk
  FROM scored
), ranked AS (
  -- exact argmax of d²/w2: survivors of the |d| pre-rank (top 64) pairwise
  -- compare d²·w2' vs d'²·w2 via the window over the tiny candidate set
  SELECT event_type, day, n1, n2, d, w2 FROM best WHERE pre_rk <= 64
)
SELECT a.event_type,
       a.day AS split_day,
       CAST(a.n1 AS BIGINT) AS n_left,
       CAST(a.n2 AS BIGINT) AS n_right,
       CAST(a.d // a.w2 AS BIGINT) AS mean_gap_c
FROM ranked a
WHERE NOT EXISTS (
  SELECT 1 FROM ranked b
  WHERE b.event_type = a.event_type
    AND (b.d * b.d * a.w2 > a.d * a.d * b.w2
         OR (b.d * b.d * a.w2 = a.d * a.d * b.w2 AND b.day < a.day))
)
""",
)
def q_changepoint_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single change-point detection per event_type by binary segmentation:
    the split day maximizing the between-segment SSE reduction
    gain(t) = n₁n₂(μ₁−μ₂)²/n over the daily cents series (SURVEY §2.11
    time-series diagnostics beside q_cusum — CUSUM monitors drift online,
    binary segmentation LOCATES the break offline; recursing on the two
    halves yields the full segmentation; q_changepoint is the global
    single-series variant — this one segments EVERY key in one pass). ENGINE-EXACT argmax: with
    d = s₁n₂ − s₂n₁ and w = n₁n₂ the comparison gain(a) > gain(b) is the
    128-bit integer compare d_a²·w_b > d_b²·w_a — no double ever decides
    the winner, ties break on the earlier day. A |d|-rank prefilter keeps
    the quadratic tie-break on a 64-candidate set per key.

    Scale: one (type, day) rollup shuffle; prefix sums are one ordered
    window over the day-grid table (range-partition the global order at
    100 TB); the argmax touches 64 candidates per key. d² · w ≈
    (1e11·1e3)² · 1e6 needs 128-bit头room — HUGEINT/decimal(38,0) headroom holds
    to ~1e16 daily cents x 3e4 days."""
    from pyspark.sql import Window

    hi = "decimal(38,0)"
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("flow_c"))
    w_run = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("event_type")
    pre = daily.select(
        "event_type",
        "day",
        F.sum("flow_c").over(w_run).cast("long").alias("s1"),
        F.row_number().over(Window.partitionBy("event_type").orderBy("day"))
        .cast("long")
        .alias("n1"),
        F.sum("flow_c").over(w_all).cast("long").alias("s"),
        F.count("*").over(w_all).cast("long").alias("n"),
    )
    scored = pre.filter(F.col("n1") < F.col("n")).select(
        "event_type",
        "day",
        "n1",
        (F.col("n") - F.col("n1")).alias("n2"),
        (
            F.col("s1").cast(hi) * (F.col("n") - F.col("n1"))
            - (F.col("s") - F.col("s1")).cast(hi) * F.col("n1")
        ).alias("d"),
        (F.col("n1").cast(hi) * (F.col("n") - F.col("n1"))).alias("w2"),
    )
    best = scored.withColumn(
        "pre_rk",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(
                F.abs(F.col("d")).desc(), "day"
            )
        ),
    ).filter(F.col("pre_rk") <= 64).drop("pre_rk")
    a = best.alias("a")
    b = best.select(
        F.col("event_type").alias("b_et"),
        F.col("day").alias("b_day"),
        F.col("d").alias("b_d"),
        F.col("w2").alias("b_w2"),
    )
    dominated = (
        (F.col("b_d") * F.col("b_d") * F.col("a.w2"))
        > (F.col("a.d") * F.col("a.d") * F.col("b_w2"))
    ) | (
        (
            (F.col("b_d") * F.col("b_d") * F.col("a.w2"))
            == (F.col("a.d") * F.col("a.d") * F.col("b_w2"))
        )
        & (F.col("b_day") < F.col("a.day"))
    )
    winners = a.join(
        b, (F.col("a.event_type") == F.col("b_et")) & dominated, "left_anti"
    )
    return winners.select(
        "event_type",
        F.col("day").alias("split_day"),
        F.col("n1").cast("long").alias("n_left"),
        F.col("n2").cast("long").alias("n_right"),
        F.expr("cast(d div w2 as bigint)").alias("mean_gap_c"),
    )


# --------------------------------------------------------------------------
# Bandit posterior census (round 7)
# --------------------------------------------------------------------------
@register(
    "q_bandit_posteriors",
    driver=False,  # §2.11 experimentation tier beside q_ab_test
    oracle="""
WITH arms AS (
  SELECT event_type AS arm,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN value >= 100 THEN 1 ELSE 0 END) AS BIGINT)
           AS successes
  FROM events WHERE value IS NOT NULL
  GROUP BY 1
), post AS (
  SELECT arm, n, successes,
         successes + 1 AS a, n - successes + 1 AS b
  FROM arms
)
SELECT arm, n, successes,
       CAST(a AS BIGINT) AS alpha,
       CAST(b AS BIGINT) AS beta,
       round(a * 1.0 / (a + b), 6) AS posterior_mean,
       round(sqrt((a * 1.0 * b) / ((a + b) * 1.0 * (a + b) * (a + b + 1))), 6)
         AS posterior_sd,
       CAST(row_number() OVER (
         ORDER BY CAST(a AS HUGEINT) * (SELECT sum(a + b) FROM post) DESC,
                  arm
       ) AS INTEGER) AS naive_rank,
       CAST(row_number() OVER (
         ORDER BY CAST(a AS HUGEINT) * (
           SELECT max(a + b) FROM post
         ) * 1000000 // (a + b) DESC, arm
       ) AS INTEGER) AS mean_rank
FROM post
""",
)
def q_bandit_posteriors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thompson-sampling bandit state: Beta(successes+1, failures+1)
    posterior per arm (event_type; success = value ≥ 100) with exact
    integer (α, β), the posterior mean α/(α+β), its sd, and the arm
    ranking — the table a bandit scheduler reads to allocate the next
    batch of traffic (SURVEY §2.11 experimentation tier beside
    q_ab_test: the A/B test decides once, the bandit reallocates
    continuously). The sampling step itself is per-request randomness and
    stays out of the oracle by design; everything the sampler consumes is
    exact and hash-pinned. mean_rank orders arms by the CROSS-MULTIPLIED
    integer α·K·1e6 div (α+β) (K = max(α+β) — a shared scale), never by
    the divided double; naive_rank (by raw α) documents why normalization
    matters when arms have unequal traffic.

    Scale: one partial+final agg on the arm key; the census is k rows.
    At 100 TB the arm state is metadata — the expensive half is the event
    scan, which is one pass."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    arms = e.groupBy(F.col("event_type").alias("arm")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("value") >= 100, 1).otherwise(0))
        .cast("long")
        .alias("successes"),
    )
    post = arms.select(
        "arm",
        "n",
        "successes",
        (F.col("successes") + 1).alias("a"),
        (F.col("n") - F.col("successes") + 1).alias("b"),
    )
    tot = post.agg(
        F.sum(F.col("a") + F.col("b")).cast("long").alias("sum_ab"),
        F.max(F.col("a") + F.col("b")).cast("long").alias("max_ab"),
    )
    j = post.crossJoin(F.broadcast(tot))
    mean_key = F.expr(
        "cast(cast(a as decimal(38,0)) * max_ab * 1000000 div (a + b) as decimal(38,0))"
    )
    return j.select(
        "arm",
        "n",
        "successes",
        F.col("a").cast("long").alias("alpha"),
        F.col("b").cast("long").alias("beta"),
        F.round(F.col("a") * 1.0 / (F.col("a") + F.col("b")), 6).alias(
            "posterior_mean"
        ),
        F.round(
            F.sqrt(
                (F.col("a") * 1.0 * F.col("b"))
                / (
                    (F.col("a") + F.col("b"))
                    * 1.0
                    * (F.col("a") + F.col("b"))
                    * (F.col("a") + F.col("b") + 1)
                )
            ),
            6,
        ).alias("posterior_sd"),
        F.row_number()
        .over(
            Window.orderBy(
                (F.col("a").cast("decimal(38,0)") * F.col("sum_ab")).desc(), "arm"
            )
        )
        .cast("integer")
        .alias("naive_rank"),
        F.row_number()
        .over(Window.orderBy(mean_key.desc(), "arm"))
        .cast("integer")
        .alias("mean_rank"),
    )

