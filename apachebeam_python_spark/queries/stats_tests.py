"""Classical hypothesis tests as distributed queries (round 4).

SURVEY §2.3 statistical extensions, same tier as q_ols_trend:
the inferential-statistics layer a training-data / experimentation
pipeline runs at corpus scale — chi-square independence, Mann-Whitney U,
and two-sample Kolmogorov-Smirnov, each over the
``events`` table and each DuckDB-oracle-backed.

Engine-parity discipline (SURVEY §7.4.4 + auto-memory
oracle-parity-gotchas): ``events.value`` is an exact 2-dp double, so every
test works in integer CENTS (``CAST(round(value*100) AS BIGINT)``) —
counts, rank sums, tie censuses, and sums of squares stay EXACT 64-bit
integers in both engines; only the final statistic assembles those
integers through one identical IEEE expression tree before a 6-dp round.
No libm beyond sqrt (correctly rounded — safe).

Scale: every test reduces to one groupBy over its grouping key plus a
metadata-sized statistic assembly (k groups, k ≤ |event_type| = 5 here).
The rank-based tests (Mann-Whitney, KS) need a global value order; at
100 TB that is a range-partitioned sort (Spark's global Window without
PARTITION BY collapses to one task — fine for the k-group statistic
tables here, flagged per-query below).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import table
from ._registry import register


def _cents(col):
    return F.round(col * 100).cast("long")


def _round6(col):
    """DuckDB's round(x, 6), i.e. round(x·10⁶) / 10⁶. ``F.round(x, 6)``
    rounds x's decimal repr, which differs past ~2.25e9: x·10⁶ has a 0.5
    ulp there, so 3234717205.6562853 is …286 in DuckDB, …285 in Spark."""
    return F.round(col * 1e6) / 1e6


# --------------------------------------------------------------------------
# Chi-square test of independence
# --------------------------------------------------------------------------
@register(
    "q_chi_square",
    # driver r6→r8; rotated off r9 (VERDICT r8 #1) after three green rounds
    driver=False,
    oracle="""
WITH g AS (
  SELECT event_type,
         CAST(sum(CASE WHEN value >= 100 THEN 1 ELSE 0 END) AS BIGINT) AS hi,
         CAST(sum(CASE WHEN value < 100 THEN 1 ELSE 0 END) AS BIGINT)  AS lo
  FROM events WHERE value IS NOT NULL
  GROUP BY event_type
), t AS (
  SELECT CAST(sum(hi) AS BIGINT)      AS c_hi,
         CAST(sum(lo) AS BIGINT)      AS c_lo,
         CAST(sum(hi + lo) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT)     AS k
  FROM g
), cells AS (SELECT g.*, t.* FROM g, t)
SELECT max(n) AS n,
       CAST((max(k) - 1)
            * ((CASE WHEN max(c_hi) > 0 THEN 1 ELSE 0 END
                + CASE WHEN max(c_lo) > 0 THEN 1 ELSE 0 END) - 1) AS BIGINT) AS dof,
       round(sum(
         CASE WHEN c_hi > 0 THEN
           (n * hi - (hi + lo) * c_hi) * CAST(n * hi - (hi + lo) * c_hi AS DOUBLE)
           / (CAST(n AS DOUBLE) * (hi + lo) * c_hi) ELSE 0.0 END
         + CASE WHEN c_lo > 0 THEN
           (n * lo - (hi + lo) * c_lo) * CAST(n * lo - (hi + lo) * c_lo AS DOUBLE)
           / (CAST(n AS DOUBLE) * (hi + lo) * c_lo) ELSE 0.0 END), 6) AS chi2,
       CASE WHEN (max(k) - 1)
                 * ((CASE WHEN max(c_hi) > 0 THEN 1 ELSE 0 END
                     + CASE WHEN max(c_lo) > 0 THEN 1 ELSE 0 END) - 1) > 0 THEN
         round(sqrt(sum(
           CASE WHEN c_hi > 0 THEN
             (n * hi - (hi + lo) * c_hi) * CAST(n * hi - (hi + lo) * c_hi AS DOUBLE)
             / (CAST(n AS DOUBLE) * (hi + lo) * c_hi) ELSE 0.0 END
           + CASE WHEN c_lo > 0 THEN
             (n * lo - (hi + lo) * c_lo) * CAST(n * lo - (hi + lo) * c_lo AS DOUBLE)
             / (CAST(n AS DOUBLE) * (hi + lo) * c_lo) ELSE 0.0 END) / max(n)), 6)
       END AS cramers_v
FROM cells
""",
)
def q_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test: event_type × value band (hi/lo at
    100), computed over the COMPLETE k×2 grid — a type with an empty band
    contributes its full expected count (o=0 cell), and dof is the
    textbook (k−1)·(bands−1) from integer comparisons in both engines
    (round-4 review findings #4/#5: the populated-cells-only version
    understated χ² and its cells/2 dof truncated differently per engine —
    DuckDB CAST rounds x.5, Spark cast truncates). The per-cell
    contribution is (N·o − r·c)² / (N·r·c): every operand an exact 64-bit
    integer, the double result the same IEEE value in both engines. An
    all-one-band table yields dof 0 and a NULL Cramér's V under identical
    guards.

    Scale: one shuffle on event_type (hi/lo are conditional partial aggs);
    the grid and totals are k rows of metadata."""
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    g = e.groupBy("event_type").agg(
        F.sum(F.when(F.col("value") >= 100, 1).otherwise(0)).alias("hi"),
        F.sum(F.when(F.col("value") < 100, 1).otherwise(0)).alias("lo"),
    )
    t = g.agg(
        F.sum("hi").alias("c_hi"),
        F.sum("lo").alias("c_lo"),
        F.sum(F.col("hi") + F.col("lo")).alias("n"),
        F.count("*").alias("k"),
    )
    cells = g.crossJoin(F.broadcast(t))

    def contrib(o, c_tot):
        r = F.col("hi") + F.col("lo")
        dev = F.col("n") * o - r * c_tot
        return F.when(
            c_tot > 0,
            dev * dev.cast("double") / (F.col("n").cast("double") * r * c_tot),
        ).otherwise(F.lit(0.0))

    total = F.sum(contrib(F.col("hi"), F.col("c_hi")) + contrib(F.col("lo"), F.col("c_lo")))
    n_bands = F.when(F.max("c_hi") > 0, 1).otherwise(0) + F.when(
        F.max("c_lo") > 0, 1
    ).otherwise(0)
    dof = ((F.max("k") - 1) * (n_bands - 1)).cast("long")
    return cells.agg(
        F.max("n").alias("n"),
        dof.alias("dof"),
        F.round(total, 6).alias("chi2"),
        F.when(dof > 0, F.round(F.sqrt(total / F.max("n")), 6)).alias("cramers_v"),
    )


# --------------------------------------------------------------------------
# Mann-Whitney U (rank-sum) test
# --------------------------------------------------------------------------
@register(
    "q_mann_whitney",
    driver=False,  # §2.3 statistical extension — pytest oracle
    oracle="""
WITH s AS (
  SELECT event_type AS grp, CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
  WHERE event_type IN ('click', 'view') AND value IS NOT NULL
), ranked AS (
  SELECT grp, cents,
         rank() OVER (ORDER BY cents) AS rmin,
         CAST(count(*) OVER (PARTITION BY cents) AS BIGINT) AS t
  FROM s
), ties AS (
  SELECT coalesce(CAST(sum(t * t * t - t) AS BIGINT), 0) AS tie_sum
  FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM s GROUP BY cents) u
  WHERE t > 1
), agg AS (
  SELECT CAST(sum(CASE WHEN grp = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN grp = 'view' THEN 1 ELSE 0 END) AS BIGINT)  AS n2,
         sum(CASE WHEN grp = 'click' THEN rmin + (t - 1) / 2.0 END)     AS r1
  FROM ranked
)
SELECT n1, n2, round(r1, 1) AS r1,
       round(r1 - n1 * (n1 + 1) / 2.0, 1) AS u1,
       round(
         (r1 - n1 * (n1 + 1) / 2.0 - n1 * CAST(n2 AS DOUBLE) / 2.0)
         / sqrt(n1 * CAST(n2 AS DOUBLE) / 12.0
                * ((n1 + n2 + 1)
                   - CAST(tie_sum AS DOUBLE) / ((n1 + n2) * CAST(n1 + n2 - 1 AS DOUBLE)))),
         6) AS z_stat
FROM agg, ties
""",
)
def q_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U: click vs view event values. Average ranks for ties
    come from min-rank + (tie_count−1)/2 — exact multiples of 0.5, so the
    rank sum is exact in a double; the tie-corrected normal approximation
    assembles integer (n1, n2, Σ(t³−t)) through one shared IEEE tree.

    Scale: ranking is a global sort — here it runs as one window task
    (two event types of the fixture ≈ 4k rows at sf0.01); at 100 TB
    replace with a range-partitioned rank (sortWithinPartitions after
    repartitionByRange + per-partition offset join, the standard
    distributed ranking pattern)."""
    s = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "view") & F.col("value").isNotNull())
        .select(F.col("event_type").alias("grp"), _cents(F.col("value")).alias("cents"))
    )
    ranked = s.select(
        "grp",
        "cents",
        F.rank().over(Window.orderBy("cents")).alias("rmin"),
        F.count("*").over(Window.partitionBy("cents")).alias("t"),
    )
    ties = (
        s.groupBy("cents")
        .agg(F.count("*").alias("t"))
        .filter(F.col("t") > 1)
        .agg(F.coalesce(F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")), F.lit(0)).alias("tie_sum"))
    )
    agg = ranked.agg(
        F.sum(F.when(F.col("grp") == "click", 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("grp") == "view", 1).otherwise(0)).alias("n2"),
        F.sum(F.when(F.col("grp") == "click", F.col("rmin") + (F.col("t") - 1) / 2.0)).alias("r1"),
    )
    j = agg.crossJoin(F.broadcast(ties))
    n1d = F.col("n1")
    n2d = F.col("n2")
    u1 = F.col("r1") - n1d * (n1d + 1) / 2.0
    z = (u1 - n1d * n2d.cast("double") / 2.0) / F.sqrt(
        n1d * n2d.cast("double") / 12.0
        * (
            (n1d + n2d + 1)
            - F.col("tie_sum").cast("double") / ((n1d + n2d) * (n1d + n2d - 1).cast("double"))
        )
    )
    return j.select(
        "n1",
        "n2",
        F.round("r1", 1).alias("r1"),
        F.round(u1, 1).alias("u1"),
        F.round(z, 6).alias("z_stat"),
    )


# --------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov
# --------------------------------------------------------------------------
@register(
    "q_ks_test",
    driver=False,  # §2.3 statistical extension — pytest oracle
    oracle="""
WITH s AS (
  SELECT event_type AS grp, CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
  WHERE event_type IN ('click', 'view') AND value IS NOT NULL
), n AS (
  SELECT CAST(sum(CASE WHEN grp = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN grp = 'view' THEN 1 ELSE 0 END) AS BIGINT)  AS n2
  FROM s
), steps AS (
  SELECT cents,
         CAST(sum(CASE WHEN grp = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS a,
         CAST(sum(CASE WHEN grp = 'view' THEN 1 ELSE 0 END) AS BIGINT)  AS b
  FROM s GROUP BY cents
), ecdf AS (
  SELECT CAST(sum(a) OVER (ORDER BY cents) AS BIGINT) AS ca,
         CAST(sum(b) OVER (ORDER BY cents) AS BIGINT) AS cb
  FROM steps
)
SELECT n1, n2,
       round(max(abs(ca * CAST(n2 AS BIGINT) - cb * CAST(n1 AS BIGINT)))
             / (n1 * CAST(n2 AS DOUBLE)), 6) AS ks_d
FROM ecdf, n
GROUP BY n1, n2
""",
)
def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS statistic D = max|F₁−F₂| for click vs view values.
    The ECDF gap is computed as the INTEGER |ca·n2 − cb·n1| (cross-scaled
    cumulative counts), so the max is found over exact integers and only
    the final normalization divides — no float comparisons decide the
    answer in either engine.

    Scale: the distinct-value step table (≤ 100·max_value rows) is what
    sorts, not the events; one groupBy shuffle + one ordered window over
    the step table."""
    s = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "view") & F.col("value").isNotNull())
        .select(F.col("event_type").alias("grp"), _cents(F.col("value")).alias("cents"))
    )
    n = s.agg(
        F.sum(F.when(F.col("grp") == "click", 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("grp") == "view", 1).otherwise(0)).alias("n2"),
    )
    steps = s.groupBy("cents").agg(
        F.sum(F.when(F.col("grp") == "click", 1).otherwise(0)).alias("a"),
        F.sum(F.when(F.col("grp") == "view", 1).otherwise(0)).alias("b"),
    )
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    ecdf = steps.select(
        F.sum("a").over(w).alias("ca"),
        F.sum("b").over(w).alias("cb"),
    )
    gap = F.abs(F.col("ca") * F.col("n2") - F.col("cb") * F.col("n1"))
    return (
        ecdf.crossJoin(F.broadcast(n))
        .groupBy("n1", "n2")
        .agg(
            F.round(
                F.max(gap) / (F.col("n1") * F.col("n2").cast("double")), 6
            ).alias("ks_d")
        )
    )


_HI = "decimal(38,0)"  # Spark twin of DuckDB HUGEINT: exact 128-bit-ish ints


# --------------------------------------------------------------------------
# Spearman rank correlation (tie-corrected, exact via doubled ranks)
# --------------------------------------------------------------------------
@register(
    "q_spearman",
    driver=False,  # §2.3 statistical extension — pytest oracle
    oracle="""
WITH s AS (
  SELECT event_type,
         CAST(round(value * 100) AS BIGINT)    AS xv,
         CAST(EXTRACT(hour FROM ts) AS BIGINT) AS yv
  FROM events WHERE value IS NOT NULL
), ranked AS (
  SELECT event_type,
         2 * rank() OVER (PARTITION BY event_type ORDER BY xv)
           + CAST(count(*) OVER (PARTITION BY event_type, xv) AS BIGINT) - 1 AS x,
         2 * rank() OVER (PARTITION BY event_type ORDER BY yv)
           + CAST(count(*) OVER (PARTITION BY event_type, yv) AS BIGINT) - 1 AS y
  FROM s
), g AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT)   AS n,
         CAST(sum(x) AS BIGINT)     AS sx,
         CAST(sum(y) AS BIGINT)     AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM ranked GROUP BY event_type
)
SELECT event_type, n,
       CASE WHEN CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx > 0
             AND CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy > 0 THEN
         round(CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
               / (sqrt(CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE))
                  * sqrt(CAST(CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE))), 6)
       END AS spearman_rho
FROM g
""",
)
def q_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-corrected Spearman ρ per event type (value vs hour-of-day):
    Pearson over average ranks, where each average rank (min-rank +
    (ties−1)/2, a multiple of 0.5) is carried as the INTEGER doubled rank
    2·rmin + t − 1 — so the whole computation stays in exact integers and
    the shared 128-bit Pearson assembly applies verbatim
    (doubling both variables leaves ρ unchanged). SURVEY §2.3.

    Scale: the per-group rank is a partitioned window (one shuffle on
    event_type); at 100 TB the within-group order becomes a
    range-partitioned rank like q_mann_whitney's note. Moment sums and the
    k-row assembly are unchanged from the Pearson path."""
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    s = e.select(
        "event_type",
        _cents(F.col("value")).alias("xv"),
        F.hour("ts").cast("long").alias("yv"),
    )

    def dbl_rank(col):
        return (
            2 * F.rank().over(Window.partitionBy("event_type").orderBy(col))
            + F.count("*").over(Window.partitionBy("event_type", col))
            - 1
        ).cast("long")

    ranked = s.select(
        "event_type",
        dbl_rank("xv").alias("x"),
        dbl_rank("yv").alias("y"),
    )
    g = ranked.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )

    def hi(c):
        return c.cast(_HI)

    covn = hi(F.col("n")) * hi(F.col("sxy")) - hi(F.col("sx")) * hi(F.col("sy"))
    varx = hi(F.col("n")) * hi(F.col("sxx")) - hi(F.col("sx")) * hi(F.col("sx"))
    vary = hi(F.col("n")) * hi(F.col("syy")) - hi(F.col("sy")) * hi(F.col("sy"))
    rho = covn.cast("double") / (
        F.sqrt(varx.cast("double")) * F.sqrt(vary.cast("double"))
    )
    return g.select(
        "event_type",
        "n",
        F.when((varx > 0) & (vary > 0), F.round(rho, 6)).alias("spearman_rho"),
    )


# --------------------------------------------------------------------------
# Lagged cross-correlation between two daily series
# --------------------------------------------------------------------------
@register(
    "q_cross_correlation",
    driver=False,  # §2.3 statistical extension — pytest oracle
    oracle="""
WITH daily AS (
  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x,
         CAST(count(*) AS BIGINT) AS y
  FROM events WHERE value IS NOT NULL
  GROUP BY 1
), lags AS (SELECT CAST(range AS BIGINT) AS lag FROM range(0, 8)),
pairs AS (
  SELECT l.lag, d1.x AS x, d2.y AS y
  FROM daily d1 JOIN lags l ON true
  JOIN daily d2 ON d2.d = d1.d + l.lag
), g AS (
  SELECT lag,
         CAST(count(*) AS BIGINT)              AS n,
         CAST(sum(x) AS BIGINT)                AS sx,
         CAST(sum(y) AS BIGINT)                AS sy,
         sum(CAST(x AS HUGEINT) * x)           AS sxx,
         sum(CAST(y AS HUGEINT) * y)           AS syy,
         sum(CAST(x AS HUGEINT) * y)           AS sxy
  FROM pairs GROUP BY lag
)
SELECT lag, n AS n_pairs,
       CASE WHEN CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx > 0
             AND CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy > 0 THEN
         round(CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
               / (sqrt(CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE))
                  * sqrt(CAST(CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE))), 6)
       END AS xcorr_r
FROM g
""",
)
def q_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation of daily revenue (cents) against daily event count
    at lags 0..7 — does today's spend predict activity k days out? The
    lead/lag diagnostic behind forecasting-feature selection (SURVEY §2.3
    statistical extensions; companion to q_acf's autocorrelation).

    Parity: day index = exact epoch-day integer in both engines; daily
    sums are BIGINT; second moments widen PER TERM to 128-bit (daily cents
    squared brushes 2^63), then the q_spearman Pearson assembly runs per lag.

    Scale: the daily rollup is the only data-sized shuffle; the series is
    metadata (O(days)), so the 8-lag self-join is a broadcast over a
    dimension-sized table — same shape at 100 TB."""
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = e.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("d")
    ).agg(
        F.sum(_cents(F.col("value"))).alias("x"),
        F.count("*").alias("y"),
    )
    lagged = daily.select(
        "d", "x", F.explode(F.array([F.lit(i) for i in range(8)])).alias("lag")
    )
    d2 = daily.select(F.col("d").alias("d2"), F.col("y").alias("y2"))
    pairs = lagged.join(
        F.broadcast(d2), F.col("d2") == F.col("d") + F.col("lag").cast("long")
    ).select("lag", "x", F.col("y2").alias("y"))

    def hi(c):
        return c.cast(_HI)

    g = pairs.groupBy("lag").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(hi(F.col("x")) * F.col("x")).alias("sxx"),
        F.sum(hi(F.col("y")) * F.col("y")).alias("syy"),
        F.sum(hi(F.col("x")) * F.col("y")).alias("sxy"),
    )
    covn = hi(F.col("n")) * F.col("sxy") - hi(F.col("sx")) * hi(F.col("sy"))
    varx = hi(F.col("n")) * F.col("sxx") - hi(F.col("sx")) * hi(F.col("sx"))
    vary = hi(F.col("n")) * F.col("syy") - hi(F.col("sy")) * hi(F.col("sy"))
    r = covn.cast("double") / (
        F.sqrt(varx.cast("double")) * F.sqrt(vary.cast("double"))
    )
    return g.select(
        F.col("lag").cast("long").alias("lag"),
        F.col("n").alias("n_pairs"),
        F.when((varx > 0) & (vary > 0), F.round(r, 6)).alias("xcorr_r"),
    )


# --------------------------------------------------------------------------
# Single changepoint by binary segmentation (exact argmax)
# --------------------------------------------------------------------------
@register(
    "q_changepoint",
    driver=False,  # §2.3 statistical extension — pytest oracle
    oracle="""
WITH daily AS (
  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
  FROM events WHERE value IS NOT NULL
  GROUP BY 1
), pref AS (
  SELECT d,
         CAST(sum(v) OVER (ORDER BY d) AS BIGINT)       AS st,
         CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS nt
  FROM daily
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(v) AS BIGINT) AS s FROM daily
), cand AS (
  SELECT d, nt, st, n, s,
         CAST((CAST(n AS HUGEINT) * st - CAST(nt AS HUGEINT) * s)
              * (CAST(n AS HUGEINT) * st - CAST(nt AS HUGEINT) * s) AS DOUBLE)
         / (CAST(n AS DOUBLE) * nt * (n - nt)) AS ssb
  FROM pref, tot WHERE nt < n
), best AS (
  SELECT *, row_number() OVER (ORDER BY ssb DESC, d) AS rk FROM cand
)
SELECT strftime(DATE '1970-01-01' + CAST(d AS INTEGER), '%Y-%m-%d') AS split_day,
       nt AS n_pre, n - nt AS n_post,
       round(st / (100.0 * nt), 4) AS mean_pre,
       round((s - st) / (100.0 * (n - nt)), 4) AS mean_post,
       round(ssb / 10000.0, 4) AS ssb_value2
FROM best WHERE rk = 1
""",
)
def q_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single changepoint in the daily-revenue series by binary
    segmentation: the split t maximizing between-segment sum of squares
    SSB(t) = (N·S_t − n_t·S)² / (N·n_t·(N−n_t)) — the first step of the
    classic changepoint recursion (CUSUM's argmax cousin; SURVEY §2.3).

    Parity: prefix sums and totals are exact integers; the SSB numerator
    squares a ~2^47 integer so both engines widen to 128-bit before ONE
    double conversion — the argmax then compares identical doubles, with
    day as the deterministic tie-break. Means and SSB report in value
    units (÷100 / ÷10⁴ of cents space).

    Scale: one data-sized shuffle to the daily rollup; the candidate scan
    is a window over the O(days) series — metadata at any corpus size."""
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = e.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("d")
    ).agg(F.sum(_cents(F.col("value"))).alias("v"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    pref = daily.select(
        "d",
        F.sum("v").over(w).alias("st"),
        F.row_number().over(Window.orderBy("d")).cast("long").alias("nt"),
    )
    tot = daily.agg(F.count("*").alias("n"), F.sum("v").alias("s"))
    cand = pref.crossJoin(F.broadcast(tot)).filter(F.col("nt") < F.col("n"))

    def hi(c):
        return c.cast(_HI)

    dev = hi(F.col("n")) * hi(F.col("st")) - hi(F.col("nt")) * hi(F.col("s"))
    ssb = (dev * dev).cast("double") / (
        F.col("n").cast("double") * F.col("nt") * (F.col("n") - F.col("nt"))
    )
    best = (
        cand.withColumn("ssb", ssb)
        .withColumn("rk", F.row_number().over(Window.orderBy(F.desc("ssb"), F.asc("d"))))
        .filter(F.col("rk") == 1)
    )
    return best.select(
        F.date_format(
            F.date_add(F.lit("1970-01-01").cast("date"), F.col("d").cast("int")),
            "yyyy-MM-dd",
        ).alias("split_day"),
        F.col("nt").alias("n_pre"),
        (F.col("n") - F.col("nt")).alias("n_post"),
        F.round(F.col("st") / (100.0 * F.col("nt")), 4).alias("mean_pre"),
        F.round((F.col("s") - F.col("st")) / (100.0 * (F.col("n") - F.col("nt"))), 4).alias("mean_post"),
        F.round(F.col("ssb") / 10000.0, 4).alias("ssb_value2"),
    )


# --------------------------------------------------------------------------
# Cohen's d / Hedges' g (round 5 — pooled-SD effect size)
# --------------------------------------------------------------------------
@register(
    "q_cohens_d",
    driver=False,  # §2.3 statistical extension (round 5) — pytest oracle
    oracle="""
WITH s AS (
  SELECT event_type AS grp, CAST(round(value * 100) AS BIGINT) AS c
  FROM events
  WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
), g AS (
  SELECT grp,
         CAST(count(*) AS BIGINT)   AS n,
         CAST(sum(c) AS BIGINT)     AS s,
         CAST(sum(c * c) AS BIGINT) AS ss
  FROM s GROUP BY grp
), w AS (
  SELECT max(CASE WHEN grp = 'click' THEN n END)  AS n1,
         max(CASE WHEN grp = 'click' THEN s END)  AS s1,
         max(CASE WHEN grp = 'click' THEN ss END) AS ss1,
         max(CASE WHEN grp = 'purchase' THEN n END)  AS n2,
         max(CASE WHEN grp = 'purchase' THEN s END)  AS s2,
         max(CASE WHEN grp = 'purchase' THEN ss END) AS ss2
  FROM g
), v AS (
  SELECT n1, n2, s1, s2,
         CAST(CAST(n1 AS HUGEINT) * ss1 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
           / (CAST(n1 AS DOUBLE) * (n1 - 1)) AS var1,
         CAST(CAST(n2 AS HUGEINT) * ss2 - CAST(s2 AS HUGEINT) * s2 AS DOUBLE)
           / (CAST(n2 AS DOUBLE) * (n2 - 1)) AS var2
  FROM w
), d AS (
  SELECT n1, n2,
         s1 / CAST(n1 AS DOUBLE) AS m1,
         s2 / CAST(n2 AS DOUBLE) AS m2,
         sqrt(((n1 - 1) * var1 + (n2 - 1) * var2) / CAST(n1 + n2 - 2 AS DOUBLE)) AS sp
  FROM v
)
SELECT n1, n2,
       round(m1 / 100.0, 4) AS mean_click,
       round(m2 / 100.0, 4) AS mean_purchase,
       round((m1 - m2) / sp, 6) AS cohens_d,
       round(((m1 - m2) / sp) * (1.0 - 3.0 / (4.0 * (n1 + n2) - 9.0)), 6) AS hedges_g
FROM d
""",
)
def q_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d / Hedges' g standardized effect size between click and
    purchase values (SURVEY §2.3 statistical extensions) — the pooled-SD
    companion to a two-sample t-test: significance says a
    difference exists; d says whether anyone should care. Per-group moments
    are exact integer cents, the variance numerators widen to 128-bit
    (DECIMAL(38,0) ↔ HUGEINT) before ONE double conversion, and the pooled
    SD + small-sample J correction assemble through the identical IEEE tree
    in both engines.

    Scale: one partial/final shuffle on event_type; the two-row pivot and
    assembly are metadata."""
    hi = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    s = (
        table(spark, sf_dir, "events")
        .filter(
            F.col("event_type").isin("click", "purchase") & F.col("value").isNotNull()
        )
        .select(F.col("event_type").alias("grp"), _cents(F.col("value")).alias("c"))
    )
    g = s.groupBy("grp").agg(
        F.count("*").alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("ss"),
    )
    w = g.agg(
        F.max(F.when(F.col("grp") == "click", F.col("n"))).alias("n1"),
        F.max(F.when(F.col("grp") == "click", F.col("s"))).alias("s1"),
        F.max(F.when(F.col("grp") == "click", F.col("ss"))).alias("ss1"),
        F.max(F.when(F.col("grp") == "purchase", F.col("n"))).alias("n2"),
        F.max(F.when(F.col("grp") == "purchase", F.col("s"))).alias("s2"),
        F.max(F.when(F.col("grp") == "purchase", F.col("ss"))).alias("ss2"),
    )
    var1 = (hi(F.col("n1")) * F.col("ss1") - hi(F.col("s1")) * F.col("s1")).cast(
        "double"
    ) / (F.col("n1").cast("double") * (F.col("n1") - 1))
    var2 = (hi(F.col("n2")) * F.col("ss2") - hi(F.col("s2")) * F.col("s2")).cast(
        "double"
    ) / (F.col("n2").cast("double") * (F.col("n2") - 1))
    m1 = F.col("s1") / F.col("n1").cast("double")
    m2 = F.col("s2") / F.col("n2").cast("double")
    sp = F.sqrt(
        ((F.col("n1") - 1) * var1 + (F.col("n2") - 1) * var2)
        / (F.col("n1") + F.col("n2") - 2).cast("double")
    )
    d = (m1 - m2) / sp
    j = F.lit(1.0) - F.lit(3.0) / (F.lit(4.0) * (F.col("n1") + F.col("n2")) - 9.0)
    return w.select(
        "n1",
        "n2",
        F.round(m1 / 100.0, 4).alias("mean_click"),
        F.round(m2 / 100.0, 4).alias("mean_purchase"),
        F.round(d, 6).alias("cohens_d"),
        F.round(d * j, 6).alias("hedges_g"),
    )


# --------------------------------------------------------------------------
# Wilcoxon signed-rank test (paired halves per user, round 5)
# --------------------------------------------------------------------------
@register(
    "q_wilcoxon_signed_rank",
    driver=False,  # §2.3 statistical extension (round 5) — pytest oracle
    oracle="""
WITH halves AS (
  SELECT user_id,
         CAST(sum(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                       THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT) AS c1,
         CAST(sum(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
                       THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT) AS c2
  FROM events WHERE value IS NOT NULL
  GROUP BY user_id
), pairs AS (
  SELECT user_id, c2 - c1 AS d, abs(c2 - c1) AS ad
  FROM halves
  WHERE c1 IS NOT NULL AND c2 IS NOT NULL AND c2 - c1 <> 0
), ranked AS (
  -- average rank in HALF-units: 2·avg_rank = 2·min_rank + (tie_count−1),
  -- an exact BIGINT — no fractional ranks ever materialize
  SELECT d,
         2 * rank() OVER (ORDER BY ad) + CAST(count(*) OVER (PARTITION BY ad) AS BIGINT) - 1 AS r2,
         CAST(count(*) OVER (PARTITION BY ad) AS BIGINT) AS t
  FROM pairs
), ties AS (
  SELECT coalesce(CAST(sum(t * t * t - t) AS BIGINT), 0) AS tie_sum
  FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM pairs GROUP BY ad) u
  WHERE t > 1
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN d > 0 THEN r2 ELSE 0 END) AS BIGINT) AS wp2,
         CAST(sum(CASE WHEN d < 0 THEN r2 ELSE 0 END) AS BIGINT) AS wm2
  FROM ranked
)
SELECT n, wp2 AS w_plus_x2, wm2 AS w_minus_x2,
       round(((wp2 - n * (n + 1) / 2.0) / 2.0)
             / sqrt(n * (n + 1) * (2 * n + 1) / 24.0 - tie_sum / 48.0), 6) AS z_stat
FROM agg, ties
""",
)
def q_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test of paired per-user spend: each user's
    first-half-of-January total (cents) vs second-half — did the
    distribution SHIFT, without assuming normality (the paired companion to
    q_mann_whitney's independent-samples U; SURVEY §2.3 statistical
    extensions). Zero differences drop (textbook), tie groups take average
    ranks carried as exact 2× integers (2·min_rank + t − 1), and the
    tie-corrected normal approximation assembles integer (n, W⁺×2, Σ(t³−t))
    through one shared IEEE tree, 6-dp rounded.

    Scale: one shuffle to user_id for the paired census; the rank window
    runs over one row per PAIRED USER (metadata-sized next to events, the
    Kendall/Theil-Sen discipline) — at web-scale user counts swap in a
    range-partitioned sort, the statistic assembly is unchanged."""
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    c = _cents(F.col("value"))
    halves = e.groupBy("user_id").agg(
        F.sum(F.when(F.to_date("ts") < "2024-01-16", c)).alias("c1"),
        F.sum(F.when(F.to_date("ts") >= "2024-01-16", c)).alias("c2"),
    )
    pairs = (
        halves.filter(
            F.col("c1").isNotNull()
            & F.col("c2").isNotNull()
            & (F.col("c2") != F.col("c1"))
        )
        .select(
            (F.col("c2") - F.col("c1")).alias("d"),
            F.abs(F.col("c2") - F.col("c1")).alias("ad"),
        )
    )
    ranked = pairs.select(
        "d",
        (
            2 * F.rank().over(Window.orderBy("ad"))
            + F.count("*").over(Window.partitionBy("ad"))
            - 1
        ).alias("r2"),
    )
    ties = (
        pairs.groupBy("ad")
        .agg(F.count("*").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")), F.lit(0)
            ).alias("tie_sum")
        )
    )
    agg = ranked.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("d") > 0, F.col("r2")).otherwise(0)).alias("wp2"),
        F.sum(F.when(F.col("d") < 0, F.col("r2")).otherwise(0)).alias("wm2"),
    )
    out = agg.crossJoin(F.broadcast(ties))
    nn = F.col("n")
    z = ((F.col("wp2") - nn * (nn + 1) / 2.0) / 2.0) / F.sqrt(
        nn * (nn + 1) * (2 * nn + 1) / 24.0 - F.col("tie_sum") / 48.0
    )
    return out.select(
        "n",
        F.col("wp2").alias("w_plus_x2"),
        F.col("wm2").alias("w_minus_x2"),
        F.round(z, 6).alias("z_stat"),
    )


# --------------------------------------------------------------------------
# Odds ratio / relative risk with log-scale CIs (round 5)
# --------------------------------------------------------------------------
_PROP_2X2 = """
WITH per_user AS (
  -- every fixture user both clicks and purchases eventually, so the 2x2
  -- needs a REAL hypothesis: week-1 high-value click exposure vs week-2+
  -- high-value purchase outcome (all four cells populated at every sf)
  SELECT user_id,
         max(CASE WHEN event_type = 'click' AND value >= 100
                   AND CAST(ts AS DATE) < DATE '2024-01-08' THEN 1 ELSE 0 END) AS exposed,
         max(CASE WHEN event_type = 'purchase' AND value >= 150
                   AND CAST(ts AS DATE) >= DATE '2024-01-08' THEN 1 ELSE 0 END) AS outcome
  FROM events GROUP BY user_id
), cells AS (
  SELECT CAST(sum(CASE WHEN exposed = 1 AND outcome = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
         CAST(sum(CASE WHEN exposed = 1 AND outcome = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
         CAST(sum(CASE WHEN exposed = 0 AND outcome = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
         CAST(sum(CASE WHEN exposed = 0 AND outcome = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
  FROM per_user
)
"""


@register(
    "q_odds_ratio",
    driver=False,  # §2.3 statistical extension (round 5) — pytest oracle
    oracle=_PROP_2X2
    + """
SELECT a, b, c, d,
       round((a * CAST(d AS DOUBLE)) / (b * CAST(c AS DOUBLE)), 6) AS odds_ratio,
       round((a / CAST(a + b AS DOUBLE)) / (c / CAST(c + d AS DOUBLE)), 6) AS relative_risk,
       round(exp(ln((a * CAST(d AS DOUBLE)) / (b * CAST(c AS DOUBLE)))
                 - 1.9599639845400545 * sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d)), 6) AS or_ci_lo,
       round(exp(ln((a * CAST(d AS DOUBLE)) / (b * CAST(c AS DOUBLE)))
                 + 1.9599639845400545 * sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d)), 6) AS or_ci_hi
FROM cells
""",
)
def q_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Odds ratio and relative risk of later high-value purchase given a
    week-1 high-value click, with the standard log-scale (Woolf)
    confidence interval (SURVEY §2.3
    statistical extensions — the effect-measure companion to
    a two-proportion z-test): the 2×2 cells are exact per-user
    integers, OR = ad/bc and RR assemble in one shared double tree, and
    the CI exponentiates ln(OR) ± 1.96·√(Σ 1/cell) — ln/exp at the very
    end only, 6-dp rounded.

    Scale: one user-keyed census shuffle, then a 1-row assembly."""
    z = 1.9599639845400545
    per_user = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("value") >= 100)
                    & (F.to_date("ts") < F.lit("2024-01-08").cast("date")),
                    1,
                ).otherwise(0)
            ).alias("exposed"),
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("value") >= 150)
                    & (F.to_date("ts") >= F.lit("2024-01-08").cast("date")),
                    1,
                ).otherwise(0)
            ).alias("outcome"),
        )
    )
    cells = per_user.agg(
        F.sum(F.when((F.col("exposed") == 1) & (F.col("outcome") == 1), 1).otherwise(0)).alias("a"),
        F.sum(F.when((F.col("exposed") == 1) & (F.col("outcome") == 0), 1).otherwise(0)).alias("b"),
        F.sum(F.when((F.col("exposed") == 0) & (F.col("outcome") == 1), 1).otherwise(0)).alias("c"),
        F.sum(F.when((F.col("exposed") == 0) & (F.col("outcome") == 0), 1).otherwise(0)).alias("d"),
    )
    a, b, c, d = F.col("a"), F.col("b"), F.col("c"), F.col("d")
    orr = (a * d.cast("double")) / (b * c.cast("double"))
    rr = (a / (a + b).cast("double")) / (c / (c + d).cast("double"))
    se = F.sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d)
    return cells.select(
        "a",
        "b",
        "c",
        "d",
        F.round(orr, 6).alias("odds_ratio"),
        F.round(rr, 6).alias("relative_risk"),
        F.round(F.exp(F.log(orr) - z * se), 6).alias("or_ci_lo"),
        F.round(F.exp(F.log(orr) + z * se), 6).alias("or_ci_hi"),
    )


# --------------------------------------------------------------------------
# Jarque-Bera normality test (round 5 continuation)
# --------------------------------------------------------------------------
@register(
    "q_jarque_bera",
    driver=False,  # §2.3 statistical extension (round 5) — pytest oracle
    oracle="""
WITH s AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS c
  FROM events WHERE value IS NOT NULL AND value >= 0
), tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS sc, CAST(count(*) AS BIGINT) AS n FROM s
), cent AS (
  SELECT n, sc - n * (sc // n) AS r,
         sum(CAST((c - sc // n) * (c - sc // n) AS HUGEINT))                       AS sy2,
         sum(CAST((c - sc // n) * (c - sc // n) AS HUGEINT) * (c - sc // n))       AS sy3,
         sum(CAST((c - sc // n) * (c - sc // n) AS HUGEINT)
             * CAST((c - sc // n) * (c - sc // n) AS HUGEINT))                     AS sy4
  FROM s, tot GROUP BY n, sc
), m AS (
  SELECT n,
         (CAST(sy2 AS DOUBLE) / n - (r / CAST(n AS DOUBLE)) * (r / CAST(n AS DOUBLE))) AS m2,
         ((CAST(sy3 AS DOUBLE) - 3.0 * (r / CAST(n AS DOUBLE)) * CAST(sy2 AS DOUBLE)
           + 2.0 * CAST(n AS DOUBLE) * (r / CAST(n AS DOUBLE)) * (r / CAST(n AS DOUBLE))
             * (r / CAST(n AS DOUBLE))) / n) AS m3,
         ((CAST(sy4 AS DOUBLE) - 4.0 * (r / CAST(n AS DOUBLE)) * CAST(sy3 AS DOUBLE)
           + 6.0 * (r / CAST(n AS DOUBLE)) * (r / CAST(n AS DOUBLE)) * CAST(sy2 AS DOUBLE)
           - 3.0 * CAST(n AS DOUBLE) * (r / CAST(n AS DOUBLE)) * (r / CAST(n AS DOUBLE))
             * (r / CAST(n AS DOUBLE)) * (r / CAST(n AS DOUBLE))) / n) AS m4
  FROM cent
)
SELECT n,
       CASE WHEN m2 > 0 THEN round(m3 / (m2 * sqrt(m2)), 6) END AS skewness,
       CASE WHEN m2 > 0 THEN round(m4 / (m2 * m2) - 3.0, 6) END AS ex_kurtosis,
       CASE WHEN m2 > 0 THEN
         round(CAST(n AS DOUBLE) / 6.0
               * ((m3 / (m2 * sqrt(m2))) * (m3 / (m2 * sqrt(m2)))
                  + (m4 / (m2 * m2) - 3.0) * (m4 / (m2 * m2) - 3.0) / 4.0), 6)
       END AS jb_stat
FROM m
""",
)
def q_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test on event values via INTEGER-PIVOT central
    moments (SURVEY §2.3 statistical extensions): pass 1 takes the exact
    cents total; every row then centers on the integer pivot μ0 = Σc div n,
    so the power sums Σy², Σy³, Σy⁴ are EXACT integers (widened to
    DECIMAL/HUGEINT — per-row y⁴ fits 64-bit but the sums do not, the
    ADVICE r4 overflow class). The fractional mean remainder δ = (Σc mod n)/n
    corrects the moments in one shared IEEE tree — no catastrophic
    cancellation, because |y| is spread-sized, not total-sized. skew
    g1 = m3/m2^1.5, excess kurtosis g2 = m4/m2²−3, JB = n/6·(g1²+g2²/4);
    sqrt only (correctly rounded — safe), no libm.

    Scale: two passes over events (total, then centered powers — the
    classic numerically-stable distributed-moments shape); the pivot
    broadcast is one row. Both passes are map-side partial aggs."""
    s = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & (F.col("value") >= 0))
        .select(_cents(F.col("value")).alias("c"))
    )
    tot = s.agg(F.sum("c").alias("sc"), F.count("*").alias("n"))
    j = s.crossJoin(F.broadcast(tot))
    y = F.col("c") - F.expr("sc div n")
    y2 = (y * y).cast("decimal(12,0)")
    cent = j.groupBy("n", "sc").agg(
        F.sum(y2).alias("sy2"),
        F.sum(y2 * y.cast("decimal(12,0)")).alias("sy3"),
        F.sum(y2 * y2).alias("sy4"),
    )
    n = F.col("n")
    nd = n.cast("double")
    r = (F.col("sc") - n * F.expr("sc div n")).cast("double")
    delta = r / nd
    sy2d = F.col("sy2").cast("double")
    sy3d = F.col("sy3").cast("double")
    sy4d = F.col("sy4").cast("double")
    m2 = sy2d / n - delta * delta
    m3 = (sy3d - 3.0 * delta * sy2d + 2.0 * nd * delta * delta * delta) / n
    m4 = (
        sy4d
        - 4.0 * delta * sy3d
        + 6.0 * delta * delta * sy2d
        - 3.0 * nd * delta * delta * delta * delta
    ) / n
    g1 = m3 / (m2 * F.sqrt(m2))
    g2 = m4 / (m2 * m2) - 3.0
    # constant-series degenerate case: m2 == 0 ⇒ moments undefined
    ok = m2 > 0
    return cent.select(
        "n",
        F.when(ok, F.round(g1, 6)).alias("skewness"),
        F.when(ok, F.round(g2, 6)).alias("ex_kurtosis"),
        F.when(ok, F.round(nd / 6.0 * (g1 * g1 + g2 * g2 / 4.0), 6)).alias("jb_stat"),
    )


# --------------------------------------------------------------------------
# Mutual information / normalized MI (round 5 continuation)
# --------------------------------------------------------------------------
@register(
    "q_mutual_information",
    driver=False,  # §2.3 statistical extension (round 5) — pytest oracle
    oracle="""
WITH s AS (
  SELECT event_type AS x,
         least(CAST(round(value * 100) AS BIGINT) // 5000, 3) AS y
  FROM events WHERE value IS NOT NULL
), joint AS (
  SELECT x, y, CAST(count(*) AS BIGINT) AS nxy FROM s GROUP BY x, y
), mx AS (
  SELECT x, CAST(sum(nxy) AS BIGINT) AS nx FROM joint GROUP BY x
), my AS (
  SELECT y, CAST(sum(nxy) AS BIGINT) AS ny FROM joint GROUP BY y
), tot AS (
  SELECT CAST(sum(nxy) AS BIGINT) AS n FROM joint
), mi AS (
  SELECT round(sum((nxy / CAST(n AS DOUBLE))
                   * ln(nxy * CAST(n AS DOUBLE) / (nx * CAST(ny AS DOUBLE)))), 6)
           AS mi_nats
  FROM joint JOIN mx USING (x) JOIN my USING (y) CROSS JOIN tot
), hx AS (
  SELECT round(-sum((nx / CAST(n AS DOUBLE)) * ln(nx / CAST(n AS DOUBLE))), 6) AS h_x
  FROM mx CROSS JOIN tot
), hy AS (
  SELECT round(-sum((ny / CAST(n AS DOUBLE)) * ln(ny / CAST(n AS DOUBLE))), 6) AS h_y
  FROM my CROSS JOIN tot
)
SELECT n, mi_nats, h_x, h_y
FROM tot CROSS JOIN mi CROSS JOIN hx CROSS JOIN hy
""",
)
def q_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(X;Y) between event type and value band plus the
    marginal entropies — the feature-relevance score a feature-selection
    pass computes per (feature, label) pair (SURVEY §2.3 statistical
    extensions; chi-square's information-theoretic sibling). The joint
    census (nxy, nx, ny, n) is exact integers; bands come from integer
    cents ``div 5000`` so no float boundary exists; each ln term is the
    same IEEE double in both engines and the ~k·b-cell sum rounds at 6 dp
    (the q_mixture_diagnostics discipline).

    Scale: one groupBy over (type, band) — k·b cells of metadata; the
    marginal joins are broadcast-sized. At 100 TB this is a single
    map-side partial agg per feature."""
    s = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            F.col("event_type").alias("x"),
            F.least(F.expr("cast(round(value * 100) as long) div 5000"), F.lit(3)).alias("y"),
        )
    )
    joint = s.groupBy("x", "y").agg(F.count("*").alias("nxy"))
    mx = joint.groupBy("x").agg(F.sum("nxy").alias("nx"))
    my = joint.groupBy("y").agg(F.sum("nxy").alias("ny"))
    tot = joint.agg(F.sum("nxy").alias("n"))
    nd = F.col("n").cast("double")
    mi_term = (F.col("nxy") / nd) * F.log(
        F.col("nxy") * nd / (F.col("nx") * F.col("ny").cast("double"))
    )
    mi = (
        joint.join(F.broadcast(mx), "x")
        .join(F.broadcast(my), "y")
        .crossJoin(F.broadcast(tot))
        .agg(F.round(F.sum(mi_term), 6).alias("mi_nats"))
    )
    px = F.col("nx") / nd
    py = F.col("ny") / nd
    hx = mx.crossJoin(F.broadcast(tot)).agg(
        F.round(-F.sum(px * F.log(px)), 6).alias("h_x")
    )
    hy = my.crossJoin(F.broadcast(tot)).agg(
        F.round(-F.sum(py * F.log(py)), 6).alias("h_y")
    )
    return (
        tot.crossJoin(F.broadcast(mi))
        .crossJoin(F.broadcast(hx))
        .crossJoin(F.broadcast(hy))
        .select("n", "mi_nats", "h_x", "h_y")
    )


# --------------------------------------------------------------------------
# Friedman test (repeated-measures rank test, round 5 continuation)
# --------------------------------------------------------------------------
@register(
    "q_friedman",
    driver=False,  # §2.3 statistical extension (round 5) — pytest oracle
    oracle="""
WITH m AS (
  SELECT user_id, event_type,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS meas
  FROM events WHERE value IS NOT NULL
  GROUP BY 1, 2
), kk AS (
  SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS k FROM m
), blocks AS (
  SELECT user_id FROM m GROUP BY user_id
  HAVING CAST(count(*) AS BIGINT) = (SELECT k FROM kk)
), mb AS (
  SELECT m.* FROM m JOIN blocks USING (user_id)
), ranked AS (
  SELECT user_id, event_type,
         rank() OVER (PARTITION BY user_id ORDER BY meas)
           + (count(*) OVER (PARTITION BY user_id, meas) - 1) / 2.0 AS r
  FROM mb
), rj AS (
  SELECT event_type, sum(r) AS rj FROM ranked GROUP BY event_type
), nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM blocks),
ties AS (
  SELECT coalesce(sum(CAST(t AS HUGEINT) * t * t - t), 0) AS tie3
  FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM mb GROUP BY user_id, meas) u
  WHERE t > 1
), agg AS (SELECT sum(rj * rj) AS rsq FROM rj)
SELECT n, k, CAST(k - 1 AS BIGINT) AS dof,
       CASE WHEN CAST(tie3 AS DOUBLE)
                 < CAST(n AS DOUBLE) * k * (CAST(k AS DOUBLE) * k - 1.0) THEN
         round((12.0 * rsq / (CAST(n AS DOUBLE) * k * (k + 1)) - 3.0 * n * (k + 1))
               / (1.0 - CAST(tie3 AS DOUBLE)
                        / (CAST(n AS DOUBLE) * k * (CAST(k AS DOUBLE) * k - 1.0))), 6)
       END AS q_stat
FROM nt, kk, ties, agg
""",
)
def q_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test on repeated measures: blocks = users, treatments =
    event types, measurement = the user's exact spend (cents) per type
    (SURVEY §2.3 statistical extensions — the within-subject companion to
    Kruskal-Wallis, which compares INDEPENDENT samples). Only COMPLETE
    blocks enter (users observed under every treatment — the textbook
    requirement); within-block average ranks are exact 0.5 multiples, so
    rank sums are exact in doubles. The statistic uses the tie-corrected
    variant Q/C with C = 1 − Σ(t³−t)/(n·k·(k²−1)) (the same correction
    family as Kruskal-Wallis; within-block ties on exact cent sums are
    rare but handled). t³ widens to DECIMAL/HUGEINT before multiplying
    (the overflow lesson of ADVICE r4); NULL when every block is
    all-ties (C = 0).

    Scale: one (user, type) groupBy, then ranking PARTITIONED BY user —
    fully parallel (no global sort, unlike Mann-Whitney); the rest is a
    k-row + 1-row metadata assembly."""
    m = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .groupBy("user_id", "event_type")
        .agg(F.sum(_cents(F.col("value"))).alias("meas"))
    )
    kdf = m.agg(F.count_distinct("event_type").alias("k"))
    blocks = (
        m.groupBy("user_id")
        .agg(F.count("*").alias("c"))
        .join(F.broadcast(kdf), F.col("c") == F.col("k"), "inner")
        .select("user_id")
    )
    mb = m.join(blocks, "user_id", "left_semi")
    ranked = mb.select(
        "user_id",
        "event_type",
        (
            F.rank().over(Window.partitionBy("user_id").orderBy("meas"))
            + (F.count("*").over(Window.partitionBy("user_id", "meas")) - 1) / 2.0
        ).alias("r"),
    )
    rj = ranked.groupBy("event_type").agg(F.sum("r").alias("rj"))
    nt = blocks.agg(F.count("*").alias("n"))
    td = F.col("t").cast("decimal(12,0)")
    ties = (
        mb.groupBy("user_id", "meas")
        .agg(F.count("*").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(td * td * td - td), F.lit(0).cast("decimal(38,0)")
            ).alias("tie3")
        )
    )
    agg = rj.agg(F.sum(F.col("rj") * F.col("rj")).alias("rsq"))
    j = (
        nt.crossJoin(F.broadcast(kdf))
        .crossJoin(F.broadcast(ties))
        .crossJoin(F.broadcast(agg))
    )
    n, k = F.col("n"), F.col("k")
    nd, kd = n.cast("double"), k.cast("double")
    denom3 = nd * k * (kd * k - 1.0)
    q = (12.0 * F.col("rsq") / (nd * k * (k + 1)) - 3.0 * n * (k + 1)) / (
        1.0 - F.col("tie3").cast("double") / denom3
    )
    return j.select(
        "n",
        "k",
        (k - 1).cast("long").alias("dof"),
        F.when(F.col("tie3").cast("double") < denom3, F.round(q, 6)).alias("q_stat"),
    )


# --------------------------------------------------------------------------
# Cliff's delta ordinal effect size (round 5 continuation)
# --------------------------------------------------------------------------
@register(
    "q_cliffs_delta",
    driver=False,  # §2.3 statistical extension (round 5) — pytest oracle
    oracle="""
WITH s AS (
  SELECT event_type AS grp, CAST(round(value * 100) AS BIGINT) AS c
  FROM events
  WHERE event_type IN ('click', 'view') AND value IS NOT NULL
), v AS (
  SELECT c,
         CAST(sum(CASE WHEN grp = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS a_cnt,
         CAST(sum(CASE WHEN grp = 'view' THEN 1 ELSE 0 END) AS BIGINT)  AS b_cnt
  FROM s GROUP BY c
), cum AS (
  SELECT a_cnt, b_cnt,
         coalesce(sum(b_cnt) OVER (ORDER BY c
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS b_lt,
         coalesce(sum(b_cnt) OVER (ORDER BY c
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0) AS b_gt
  FROM v
), agg AS (
  SELECT CAST(sum(a_cnt) AS BIGINT) AS n1,
         CAST(sum(b_cnt) AS BIGINT) AS n2,
         CAST(sum(CAST(a_cnt AS HUGEINT) * b_lt) AS HUGEINT) AS gt_pairs,
         CAST(sum(CAST(a_cnt AS HUGEINT) * b_gt) AS HUGEINT) AS lt_pairs
  FROM cum
)
SELECT n1, n2,
       CAST(gt_pairs AS BIGINT) AS gt_pairs,
       CAST(lt_pairs AS BIGINT) AS lt_pairs,
       round(CAST(gt_pairs - lt_pairs AS DOUBLE)
             / (CAST(n1 AS DOUBLE) * n2), 6) AS cliffs_delta
FROM agg WHERE n1 > 0 AND n2 > 0
""",
)
def q_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta: the ordinal, distribution-free effect size
    δ = (#{x>y} − #{x<y}) / (n₁·n₂) for click vs view values — the robust
    companion to q_cohens_d (immune to outliers and non-normality, the
    measure nonparametric A/B readouts pair with q_mann_whitney; SURVEY
    §2.3 statistical extensions). The n₁·n₂ pair census is computed
    WITHOUT a cross join: values collapse to distinct cents with
    per-group counts, one ordered window gives each distinct value the
    count of view values strictly below/above it, and
    Σ a_cnt·b_lt / Σ a_cnt·b_gt are exact 128-bit integer pair counts
    (ties counted in neither — the definition). One double division at
    the end; engine-identical.

    Scale: the distinct-value table is domain-sized (2-dp cents), so the
    global ordered window is metadata after one data-sized groupBy — the
    same shape as q_histogram_equidepth; δ at 100 TB costs one shuffle."""
    s = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "view") & F.col("value").isNotNull())
        .select(F.col("event_type").alias("grp"), _cents(F.col("value")).alias("c"))
    )
    v = s.groupBy("c").agg(
        F.sum(F.when(F.col("grp") == "click", 1).otherwise(0)).alias("a_cnt"),
        F.sum(F.when(F.col("grp") == "view", 1).otherwise(0)).alias("b_cnt"),
    )
    wl = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, -1)
    wg = Window.orderBy("c").rowsBetween(1, Window.unboundedFollowing)
    cum = v.select(
        "a_cnt",
        "b_cnt",
        F.coalesce(F.sum("b_cnt").over(wl), F.lit(0)).alias("b_lt"),
        F.coalesce(F.sum("b_cnt").over(wg), F.lit(0)).alias("b_gt"),
    )

    def hi(c):
        return c.cast(_HI)

    agg = cum.agg(
        F.sum("a_cnt").alias("n1"),
        F.sum("b_cnt").alias("n2"),
        F.sum(hi(F.col("a_cnt")) * F.col("b_lt")).alias("gt_pairs"),
        F.sum(hi(F.col("a_cnt")) * F.col("b_gt")).alias("lt_pairs"),
    )
    return agg.filter((F.col("n1") > 0) & (F.col("n2") > 0)).select(
        "n1",
        "n2",
        F.col("gt_pairs").cast("long").alias("gt_pairs"),
        F.col("lt_pairs").cast("long").alias("lt_pairs"),
        F.round(
            (F.col("gt_pairs") - F.col("lt_pairs")).cast("double")
            / (F.col("n1").cast("double") * F.col("n2")),
            6,
        ).alias("cliffs_delta"),
    )


# --------------------------------------------------------------------------
# Grubbs' outlier test (round 5 continuation)
# --------------------------------------------------------------------------
@register(
    "q_grubbs",
    driver=False,  # §2.3 statistical extension (round 5) — pytest oracle
    oracle="""
WITH s AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS c
  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
), tot AS (
  SELECT CAST(count(*) AS BIGINT)   AS n,
         CAST(sum(c) AS BIGINT)     AS sm,
         CAST(sum(c * c) AS BIGINT) AS ss
  FROM s
), dev AS (
  SELECT c, abs(CAST(c AS HUGEINT) * n - sm) AS d, n, sm, ss
  FROM s, tot
), pick AS (
  SELECT c, d, n, sm, ss,
         row_number() OVER (ORDER BY d DESC, c DESC) AS rn
  FROM dev
)
SELECT n, c AS suspect_cents,
       CASE WHEN CAST(n AS HUGEINT) * ss - CAST(sm AS HUGEINT) * sm > 0
            AND n > 1 THEN
         round((CAST(d AS DOUBLE) / n)
               / sqrt(CAST(CAST(n AS HUGEINT) * ss - CAST(sm AS HUGEINT) * sm
                           AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1))), 6)
       END AS g_stat
FROM pick WHERE rn = 1
""",
)
def q_grubbs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs' test (two-sided): the most extreme purchase value as a
    candidate outlier, G = max|c − mean| / sd — the single-outlier
    detector run before q_mad_outliers' bulk pass (SURVEY §2.3
    statistical extensions). The argmax is engine-deterministic because
    the deviation is computed as the EXACT 128-bit integer |c·n − Σc|
    (no float mean subtraction — ties broken by larger c), and G then
    assembles from the same exact moments through one shared IEEE tree:
    (d/n) / sqrt((n·Σc² − (Σc)²)/(n(n−1))).

    Scale: one pass for the moments (3-value broadcast), one pass for the
    deviation argmax — a 2-scan reduce with no shuffle beyond the two
    global aggregates; the window here orders ONE already-reduced argmax
    candidate set (the driver plan keeps it metadata-sized via the
    broadcast total)."""
    s = (
        table(spark, sf_dir, "events")
        .filter((F.col("event_type") == "purchase") & F.col("value").isNotNull())
        .select(_cents(F.col("value")).alias("c"))
    )
    tot = s.agg(
        F.count("*").alias("n"),
        F.sum("c").alias("sm"),
        F.sum(F.col("c") * F.col("c")).alias("ss"),
    )

    def hi(c):
        return c.cast(_HI)

    dev = s.crossJoin(F.broadcast(tot)).select(
        "c", "n", "sm", "ss",
        F.abs(hi(F.col("c")) * F.col("n") - F.col("sm")).alias("d"),
    )
    # exact-integer argmax: one max over (d, c) pairs, then re-derive —
    # expressed as a max_by on the exact struct so no global sort happens
    pick = dev.agg(
        F.max_by(
            F.struct("c", "d", "n", "sm", "ss"), F.struct("d", "c")
        ).alias("m")
    ).select("m.c", "m.d", "m.n", "m.sm", "m.ss")
    varnum = hi(F.col("n")) * hi(F.col("ss")) - hi(F.col("sm")) * hi(F.col("sm"))
    g = (F.col("d").cast("double") / F.col("n")) / F.sqrt(
        varnum.cast("double") / (F.col("n").cast("double") * (F.col("n") - 1))
    )
    return pick.select(
        F.col("n"),
        F.col("c").alias("suspect_cents"),
        F.when((varnum > 0) & (F.col("n") > 1), F.round(g, 6)).alias("g_stat"),
    )


# --------------------------------------------------------------------------
# Mann-Kendall trend test (round 5 continuation)
# --------------------------------------------------------------------------
@register(
    "q_mann_kendall",
    driver=False,  # §2.3 statistical extension (round 5) — pytest oracle
    oracle="""
WITH daily AS (
  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
  FROM events WHERE value IS NOT NULL
  GROUP BY 1
), pairs AS (
  SELECT CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END AS sgn
  FROM daily a JOIN daily b ON a.d < b.d
), s AS (SELECT CAST(coalesce(sum(sgn), 0) AS BIGINT) AS s_stat FROM pairs),
nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
ties AS (
  SELECT CAST(coalesce(sum(CAST(t AS HUGEINT) * (t - 1) * (2 * t + 5)), 0)
              AS HUGEINT) AS tie_term
  FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM daily GROUP BY x) u
  WHERE t > 1
), v AS (
  SELECT s.s_stat, nt.n,
         CAST(CAST(nt.n AS HUGEINT) * (nt.n - 1) * (2 * nt.n + 5)
              - ties.tie_term AS DOUBLE) / 18.0 AS var_s
  FROM s, nt, ties
)
SELECT n, s_stat, round(var_s, 6) AS var_s,
       CASE WHEN var_s > 0 THEN
         round(CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var_s)
                    WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var_s)
                    ELSE 0.0 END, 6)
       END AS z_stat
FROM v
""",
)
def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotone-trend test on the daily revenue series — the
    nonparametric companion to q_ols_trend's parametric slope and the
    temporal sibling of Kendall's tau (SURVEY §2.3 statistical
    extensions; THE standard is-this-metric-drifting test in
    environmental and ops monitoring). S = Σ_{i<j} sign(x_j − x_i) is an
    exact integer census over day pairs; the tie-corrected variance
    [n(n−1)(2n+5) − Σt(t−1)(2t+5)]/18 widens the tie term to 128-bit
    (the ADVICE r4 lesson), and the continuity-corrected z assembles
    through one shared IEEE tree.

    Scale: the pair join runs on the METADATA-sized daily series (days²
    pairs); the data-sized work is one
    daily rollup. For per-key trend tests at 100 TB, the O(n log n)
    merge-sort S computation replaces the pair join per key."""
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = e.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("d")
    ).agg(F.sum(_cents(F.col("value"))).alias("x"))
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(b, F.col("a.d") < F.col("b.d")).select(
        F.when(F.col("b.x") > F.col("a.x"), 1)
        .when(F.col("b.x") < F.col("a.x"), -1)
        .otherwise(0)
        .alias("sgn")
    )
    s = pairs.agg(F.coalesce(F.sum("sgn"), F.lit(0)).alias("s_stat"))
    nt = daily.agg(F.count("*").alias("n"))
    td = F.col("t").cast(_HI)
    ties = (
        daily.groupBy("x")
        .agg(F.count("*").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(td * (F.col("t") - 1) * (2 * F.col("t") + 5)),
                F.lit(0).cast(_HI),
            ).alias("tie_term")
        )
    )
    n = F.col("n")
    v = (
        s.crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(ties))
        .select(
            "s_stat",
            "n",
            (
                (n.cast(_HI) * (n - 1) * (2 * n + 5) - F.col("tie_term")).cast(
                    "double"
                )
                / 18.0
            ).alias("var_s"),
        )
    )
    ss = F.col("s_stat")
    z = (
        F.when(ss > 0, (ss - 1) / F.sqrt(F.col("var_s")))
        .when(ss < 0, (ss + 1) / F.sqrt(F.col("var_s")))
        .otherwise(F.lit(0.0))
    )
    return v.select(
        "n",
        "s_stat",
        F.round(F.col("var_s"), 6).alias("var_s"),
        F.when(F.col("var_s") > 0, F.round(z, 6)).alias("z_stat"),
    )


# --------------------------------------------------------------------------
# Wald-Wolfowitz runs test (round 5 continuation)
# --------------------------------------------------------------------------
@register(
    "q_runs_test",
    driver=False,  # §2.3 statistical extension (round 5) — pytest oracle
    oracle="""
WITH daily AS (
  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
  FROM events WHERE value IS NOT NULL
  GROUP BY 1
), med AS (
  SELECT x AS m FROM (
    SELECT x, row_number() OVER (ORDER BY x) AS rn, count(*) OVER () AS n
    FROM daily
  ) WHERE rn = (n + 1) // 2
), signs AS (
  SELECT d, CASE WHEN x > m THEN 1 ELSE 0 END AS s
  FROM daily, med WHERE x <> m
), runs AS (
  SELECT s, lag(s) OVER (ORDER BY d) AS prev FROM signs
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_kept,
         CAST(sum(s) AS BIGINT) AS n1,
         CAST(count(*) - sum(s) AS BIGINT) AS n2,
         CAST(sum(CASE WHEN prev IS NULL OR s <> prev THEN 1 ELSE 0 END)
              AS BIGINT) AS r
  FROM runs
)
SELECT n_kept, n1, n2, r,
       round(2.0 * n1 * n2 / n_kept + 1.0, 6) AS mu_r,
       CASE WHEN n_kept > 1 AND n1 > 0 AND n2 > 0
                 AND 2.0 * n1 * n2 * (2.0 * n1 * n2 - n_kept) > 0 THEN
         round((r - (2.0 * n1 * n2 / n_kept + 1.0))
               / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n_kept)
                      / (CAST(n_kept AS DOUBLE) * n_kept * (n_kept - 1))), 6)
       END AS z_stat
FROM agg
""",
)
def q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test for randomness of the daily revenue series
    around its median: too FEW runs of above/below-median days means
    positive autocorrelation (regimes), too many means oscillation — the
    independence check that should precede q_acf's parametric lags
    (SURVEY §2.3 statistical extensions). The lower median is picked by
    integer rank position (no interpolation),
    exactly-median days are dropped (the textbook rule), runs count from
    one lag window over the day order, and μ_R = 2n₁n₂/n + 1 with the
    Wald-Wolfowitz σ assemble from exact integers through one shared
    IEEE tree.

    Scale: one data-sized daily rollup; the median rank, lag window and
    statistic run on the metadata-sized day series."""
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = e.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("d")
    ).agg(F.sum(_cents(F.col("value"))).alias("x"))
    r = daily.select(
        "d",
        "x",
        F.row_number().over(Window.orderBy("x")).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    med = r.filter(F.col("rn") == F.expr("(n + 1) div 2")).select(
        F.col("x").alias("m")
    )
    signs = (
        daily.crossJoin(F.broadcast(med))
        .filter(F.col("x") != F.col("m"))
        .select("d", F.when(F.col("x") > F.col("m"), 1).otherwise(0).alias("s"))
    )
    runs = signs.select("s", F.lag("s").over(Window.orderBy("d")).alias("prev"))
    agg = runs.agg(
        F.count("*").alias("n_kept"),
        F.sum("s").alias("n1"),
        (F.count("*") - F.sum("s")).alias("n2"),
        F.sum(
            F.when(F.col("prev").isNull() | (F.col("s") != F.col("prev")), 1)
            .otherwise(0)
        ).alias("r"),
    )
    nk, n1, n2, rr = F.col("n_kept"), F.col("n1"), F.col("n2"), F.col("r")
    mu = 2.0 * n1 * n2 / nk + 1.0
    var = (
        2.0 * n1 * n2 * (2.0 * n1 * n2 - nk)
        / (nk.cast("double") * nk * (nk - 1))
    )
    return agg.select(
        "n_kept",
        "n1",
        "n2",
        "r",
        F.round(mu, 6).alias("mu_r"),
        F.when(
            (nk > 1) & (n1 > 0) & (n2 > 0)
            & (2.0 * n1 * n2 * (2.0 * n1 * n2 - nk) > 0),
            F.round((rr - mu) / F.sqrt(var), 6),
        ).alias("z_stat"),
    )


# --------------------------------------------------------------------------
# Cronbach's alpha internal-consistency reliability (round 5 continuation)
# --------------------------------------------------------------------------
@register(
    "q_cronbach_alpha",
    driver=False,  # §2.3 statistical extension (round 5) — pytest oracle
    oracle="""
WITH m AS (
  SELECT user_id, event_type,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS item
  FROM events WHERE value IS NOT NULL
  GROUP BY 1, 2
), kk AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS k FROM m),
cases_ AS (
  SELECT user_id FROM m GROUP BY user_id
  HAVING CAST(count(*) AS BIGINT) = (SELECT k FROM kk)
), mb AS (SELECT m.* FROM m JOIN cases_ USING (user_id)),
item_var AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(item) AS HUGEINT) AS s,
         CAST(sum(CAST(item AS HUGEINT) * item) AS HUGEINT) AS ss
  FROM mb GROUP BY event_type
), iv AS (
  -- cases are complete blocks, so every item has the same n: one exact
  -- 128-bit sum, then one division, gives a value no summation order moves
  SELECT CAST(sum(n * ss - s * s) AS DOUBLE)
           / (CAST(max(n) AS DOUBLE) * (max(n) - 1)) AS sum_item_var
  FROM item_var WHERE n > 1
), totals AS (
  SELECT user_id, CAST(sum(item) AS BIGINT) AS tot FROM mb GROUP BY user_id
), tv AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(tot) AS HUGEINT) AS s,
         CAST(sum(CAST(tot AS HUGEINT) * tot) AS HUGEINT) AS ss
  FROM totals
)
SELECT tv.n AS n_cases, kk.k,
       round(iv.sum_item_var, 6) AS sum_item_var,
       round(CAST(tv.n * tv.ss - tv.s * tv.s AS DOUBLE)
             / (CAST(tv.n AS DOUBLE) * (tv.n - 1)), 6) AS total_var,
       CASE WHEN kk.k > 1 AND tv.n > 1
                 AND CAST(tv.n * tv.ss - tv.s * tv.s AS DOUBLE) > 0 THEN
         round(CAST(kk.k AS DOUBLE) / (kk.k - 1)
               * (1.0 - iv.sum_item_var
                        / (CAST(tv.n * tv.ss - tv.s * tv.s AS DOUBLE)
                           / (CAST(tv.n AS DOUBLE) * (tv.n - 1)))), 6)
       END AS cronbach_alpha
FROM tv, kk, iv
""",
)
def q_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha: internal-consistency reliability of the k event
    types treated as scale items, cases = users observed under every item
    (the q_friedman complete-block convention) — α = k/(k−1)·(1 −
    Σvar_item/var_total), THE metric survey and composite-score pipelines
    report before averaging item scores (SURVEY §2.3 statistical
    extensions). Item and total variances derive from exact integer cents
    moments, each n·Σx² − (Σx)² widened to 128-bit (the ADVICE r4 lesson).
    Every item has the same n (complete blocks), so Σvar_item is one exact
    128-bit sum of the k numerators divided once by n·(n−1): at ~3e9 (sf0.1)
    one ulp shows at 6 dp, and a double sum of the k variances moves with
    the merge order. Columns round as DuckDB does (:func:`_round6`). NULL
    when the total variance is degenerate.

    Scale: one (user, item) groupBy; item variances are a k-row rollup,
    case totals one more user-keyed partial agg — no global sorts."""
    m = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .groupBy("user_id", "event_type")
        .agg(F.sum(_cents(F.col("value"))).alias("item"))
    )
    kdf = m.agg(F.count_distinct("event_type").alias("k"))
    cases = (
        m.groupBy("user_id")
        .agg(F.count("*").alias("c"))
        .join(F.broadcast(kdf), F.col("c") == F.col("k"))
        .select("user_id")
    )
    mb = m.join(cases, "user_id", "left_semi")

    def hi(c):
        return c.cast(_HI)

    item_var = mb.groupBy("event_type").agg(
        F.count("*").alias("n"),
        hi(F.sum("item")).alias("s"),
        hi(F.sum(hi(F.col("item")) * F.col("item"))).alias("ss"),
    )
    n_item = F.max("n")
    iv = item_var.filter(F.col("n") > 1).agg(
        (
            F.sum(F.col("n") * F.col("ss") - F.col("s") * F.col("s")).cast("double")
            / (n_item.cast("double") * (n_item - 1))
        ).alias("sum_item_var")
    )
    totals = mb.groupBy("user_id").agg(F.sum("item").alias("tot"))
    tv = totals.agg(
        F.count("*").alias("n"),
        hi(F.sum("tot")).alias("s"),
        hi(F.sum(hi(F.col("tot")) * F.col("tot"))).alias("ss"),
    )
    j = tv.crossJoin(F.broadcast(kdf)).crossJoin(F.broadcast(iv))
    n, k = F.col("n"), F.col("k")
    tvar_num = (n * F.col("ss") - F.col("s") * F.col("s")).cast("double")
    total_var = tvar_num / (n.cast("double") * (n - 1))
    alpha = k.cast("double") / (k - 1) * (
        1.0 - F.col("sum_item_var") / total_var
    )
    return j.select(
        n.cast("long").alias("n_cases"),
        "k",
        _round6(F.col("sum_item_var")).alias("sum_item_var"),
        _round6(total_var).alias("total_var"),
        F.when((k > 1) & (n > 1) & (tvar_num > 0), _round6(alpha)).alias(
            "cronbach_alpha"
        ),
    )


# --------------------------------------------------------------------------
# Goodman-Kruskal gamma over ordinal bands (round 5 continuation)
# --------------------------------------------------------------------------
@register(
    "q_gk_gamma",
    driver=False,  # §2.3 statistical extension (round 5) — pytest oracle
    oracle="""
WITH b AS (
  SELECT CAST(CASE WHEN value < 50 THEN 0 WHEN value < 150 THEN 1
              WHEN value < 300 THEN 2 ELSE 3 END AS BIGINT) AS vb,
         CAST(CASE WHEN extract(hour FROM ts) < 6 THEN 0
              WHEN extract(hour FROM ts) < 12 THEN 1
              WHEN extract(hour FROM ts) < 18 THEN 2 ELSE 3 END AS BIGINT) AS hb
  FROM events WHERE value IS NOT NULL
), cells AS (
  SELECT vb, hb, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY vb, hb
), pairs AS (
  -- each unordered pair counted ONCE via the a.vb < d.vb orientation
  SELECT CAST(coalesce(sum(CASE WHEN a.hb < d.hb
                       THEN CAST(a.c AS HUGEINT) * d.c ELSE 0 END), 0)
              AS HUGEINT) AS conc,
         CAST(coalesce(sum(CASE WHEN a.hb > d.hb
                       THEN CAST(a.c AS HUGEINT) * d.c ELSE 0 END), 0)
              AS HUGEINT) AS disc
  FROM cells a JOIN cells d ON a.vb < d.vb
)
SELECT CAST(conc AS BIGINT) AS concordant,
       CAST(disc AS BIGINT) AS discordant,
       CASE WHEN conc + disc > 0 THEN
         round(CAST(conc - disc AS DOUBLE) / CAST(conc + disc AS DOUBLE), 6)
       END AS gamma
FROM pairs
""",
)
def q_gk_gamma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goodman-Kruskal gamma between ordinal value bands and time-of-day
    bands — the ordinal-association measure that IGNORES ties (unlike
    Kendall's tau-b), the right choice for coarse ordered
    categories (SURVEY §2.3 statistical extensions; completes the
    ordinal family). Concordant/discordant pair counts come from the
    k×m CONTINGENCY-CELL cross product, not a row-pair join: each cell
    pair contributes c_a·c_d pairs in one direction, so the census is
    exact 128-bit integers over (k·m)² = 256 metadata rows; γ =
    (C−D)/(C+D) is one double division.

    Scale: one data-sized groupBy to the contingency table; everything
    after is constant-size. This is how ordinal association is computed
    at ANY scale — the contingency contraction is the whole trick."""
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    b = e.select(
        F.when(F.col("value") < 50, 0)
        .when(F.col("value") < 150, 1)
        .when(F.col("value") < 300, 2)
        .otherwise(3)
        .cast("long")
        .alias("vb"),
        F.when(F.hour("ts") < 6, 0)
        .when(F.hour("ts") < 12, 1)
        .when(F.hour("ts") < 18, 2)
        .otherwise(3)
        .cast("long")
        .alias("hb"),
    )
    cells = b.groupBy("vb", "hb").agg(F.count("*").alias("c"))
    a, d = cells.alias("a"), cells.alias("d")
    hi_ = lambda c: c.cast(_HI)  # noqa: E731
    # each unordered pair counted ONCE via the a.vb < d.vb orientation
    pairs = a.join(d, F.col("a.vb") < F.col("d.vb")).agg(
        F.coalesce(
            F.sum(
                F.when(
                    F.col("a.hb") < F.col("d.hb"),
                    hi_(F.col("a.c")) * F.col("d.c"),
                ).otherwise(F.lit(0).cast(_HI))
            ),
            F.lit(0).cast(_HI),
        ).alias("conc"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("a.hb") > F.col("d.hb"),
                    hi_(F.col("a.c")) * F.col("d.c"),
                ).otherwise(F.lit(0).cast(_HI))
            ),
            F.lit(0).cast(_HI),
        ).alias("disc"),
    )
    conc, disc = F.col("conc"), F.col("disc")
    return pairs.select(
        conc.cast("long").alias("concordant"),
        disc.cast("long").alias("discordant"),
        F.when(
            conc + disc > 0,
            F.round((conc - disc).cast("double") / (conc + disc).cast("double"), 6),
        ).alias("gamma"),
    )


# --------------------------------------------------------------------------
# Dickey-Fuller unit-root test (round 5 continuation)
# --------------------------------------------------------------------------
@register(
    "q_dickey_fuller",
    driver=False,  # §2.3 statistical extension (round 5) — pytest oracle
    oracle="""
WITH daily AS (
  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
  FROM events WHERE value IS NOT NULL
  GROUP BY 1
), pairs AS (
  SELECT y - lag(y) OVER (ORDER BY d) AS dy,
         lag(y) OVER (ORDER BY d) AS x
  FROM daily
), kept AS (SELECT dy, x FROM pairs WHERE x IS NOT NULL),
m AS (
  SELECT CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(x) AS HUGEINT) AS sx,
         CAST(sum(dy) AS HUGEINT) AS sd,
         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         CAST(sum(CAST(x AS HUGEINT) * dy) AS HUGEINT) AS sxd,
         CAST(sum(CAST(dy AS HUGEINT) * dy) AS HUGEINT) AS sdd
  FROM kept
), v AS (
  SELECT CAST(n AS BIGINT) AS n_obs,
         CAST(n * sxx - sx * sx AS DOUBLE) AS sxx_c,
         CAST(n * sxd - sx * sd AS DOUBLE) AS sxd_c,
         CAST(n * sdd - sd * sd AS DOUBLE) AS sdd_c,
         CAST(n AS DOUBLE) AS nd
  FROM m
)
SELECT n_obs,
       round(sxd_c / sxx_c, 6) AS beta,
       CASE WHEN n_obs > 2 AND sxx_c > 0
                 AND sdd_c - sxd_c * sxd_c / sxx_c > 0 THEN
         round((sxd_c / sxx_c)
               / sqrt((sdd_c - sxd_c * sxd_c / sxx_c) / nd
                      / (nd - 2) * nd / sxx_c), 6)
       END AS df_t
FROM v WHERE sxx_c > 0
""",
)
def q_dickey_fuller(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dickey-Fuller unit-root test (with drift): regress the daily
    revenue DIFFERENCE on the lagged level, Δy_t = α + β·y_{t−1} + ε,
    and report β's t-ratio — β near 0 means a random walk
    (non-stationary), significantly negative means mean reversion; the
    stationarity check run before q_acf/q_ols_trend model choices
    (SURVEY §2.3 statistical extensions). All six regression moments
    are exact 64/128-bit integers; the centered sums Sxx, Sxd, Sdd take
    ONE double conversion each, and β, SSE = (Sdd − Sxd²/Sxx)/n and the
    t-ratio assemble through a shared IEEE tree. (The critical values
    are the Dickey-Fuller table's, not Student-t — reporting the
    statistic is the engine's job; the lookup is the analyst's.)

    Scale: one daily rollup, one lag window over the metadata-sized day
    series, one moment row."""
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = e.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("d")
    ).agg(F.sum(_cents(F.col("value"))).alias("y"))
    wl = Window.orderBy("d")
    pairs = daily.select(
        (F.col("y") - F.lag("y").over(wl)).alias("dy"),
        F.lag("y").over(wl).alias("x"),
    ).filter(F.col("x").isNotNull())

    def hi(c):
        return c.cast(_HI)

    m = pairs.agg(
        hi(F.count("*")).alias("n"),
        hi(F.sum("x")).alias("sx"),
        hi(F.sum("dy")).alias("sd"),
        hi(F.sum(hi(F.col("x")) * F.col("x"))).alias("sxx"),
        hi(F.sum(hi(F.col("x")) * F.col("dy"))).alias("sxd"),
        hi(F.sum(hi(F.col("dy")) * F.col("dy"))).alias("sdd"),
    )
    n = F.col("n")
    v = m.select(
        n.cast("long").alias("n_obs"),
        (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double").alias("sxx_c"),
        (n * F.col("sxd") - F.col("sx") * F.col("sd")).cast("double").alias("sxd_c"),
        (n * F.col("sdd") - F.col("sd") * F.col("sd")).cast("double").alias("sdd_c"),
        n.cast("double").alias("nd"),
    )
    beta = F.col("sxd_c") / F.col("sxx_c")
    sse_n = F.col("sdd_c") - F.col("sxd_c") * F.col("sxd_c") / F.col("sxx_c")
    t = beta / F.sqrt(
        sse_n / F.col("nd") / (F.col("nd") - 2) * F.col("nd") / F.col("sxx_c")
    )
    return v.filter(F.col("sxx_c") > 0).select(
        "n_obs",
        F.round(beta, 6).alias("beta"),
        F.when(
            (F.col("n_obs") > 2) & (F.col("sxx_c") > 0) & (sse_n > 0),
            F.round(t, 6),
        ).alias("df_t"),
    )


# --------------------------------------------------------------------------
# Partial autocorrelation via unrolled Durbin-Levinson (round 5)
# --------------------------------------------------------------------------
@register(
    "q_pacf",
    driver=False,  # §2.3 statistical extension (round 5) — pytest oracle
    oracle="""
WITH daily AS (
  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
  FROM events WHERE value IS NOT NULL
  GROUP BY 1
), lags AS (SELECT unnest(range(1, 5)) AS k),
cens AS (
  SELECT l.k, a.n, a.s, a.ss,
         CAST(count(*) AS BIGINT) AS m,
         CAST(sum(CAST(a.y AS HUGEINT) * b.y) AS HUGEINT) AS sxy,
         CAST(sum(a.y) AS BIGINT) AS sh,
         CAST(sum(b.y) AS BIGINT) AS st
  FROM (SELECT y, row_number() OVER (ORDER BY d) AS t,
               CAST(count(*) OVER () AS BIGINT) AS n,
               CAST(sum(y) OVER () AS BIGINT) AS s,
               CAST(sum(CAST(y AS HUGEINT) * y) OVER () AS HUGEINT) AS ss
        FROM daily) a
  JOIN lags l ON a.t > l.k
  JOIN (SELECT y, row_number() OVER (ORDER BY d) AS t FROM daily) b
    ON b.t = a.t - l.k
  GROUP BY l.k, a.n, a.s, a.ss
), rk AS (
  SELECT k,
         (CAST(sxy AS DOUBLE)
          - (CAST(s AS DOUBLE) / n) * (sh + st)
          + m * (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))
           / (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) AS r
  FROM cens
  WHERE CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n > 0
), piv AS (
  SELECT max(CASE WHEN k = 1 THEN r END) AS r1,
         max(CASE WHEN k = 2 THEN r END) AS r2,
         max(CASE WHEN k = 3 THEN r END) AS r3,
         max(CASE WHEN k = 4 THEN r END) AS r4
  FROM rk
), dl AS (
  SELECT r1, r2, r3, r4,
         r1 AS p1,
         (r2 - r1 * r1) / (1.0 - r1 * r1) AS p2
  FROM piv WHERE abs(r1) < 1
), dl2 AS (
  SELECT *, r1 - p2 * r1 AS f21 FROM dl
), dl3 AS (
  SELECT *,
         (r3 - f21 * r2 - p2 * r1) / (1.0 - f21 * r1 - p2 * r2) AS p3
  FROM dl2 WHERE abs(1.0 - f21 * r1 - p2 * r2) > 1e-12
), dl4 AS (
  SELECT *, f21 - p3 * p2 AS f31, p2 - p3 * f21 AS f32 FROM dl3
)
SELECT round(p1, 6) AS pacf1, round(p2, 6) AS pacf2, round(p3, 6) AS pacf3,
       CASE WHEN abs(1.0 - f31 * r1 - f32 * r2 - p3 * r3) > 1e-12 THEN
         round((r4 - f31 * r3 - f32 * r2 - p3 * r1)
               / (1.0 - f31 * r1 - f32 * r2 - p3 * r3), 6)
       END AS pacf4
FROM dl4
""",
)
def q_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation function at lags 1..4 via the
    Durbin-Levinson recursion UNROLLED to closed form — the AR-order
    selector read next to q_acf (a PACF cutoff at lag p says fit AR(p);
    SURVEY §2.3 statistical extensions, completing the ACF/Ljung-Box
    family). The autocorrelations r₁..r₄ use exact-integer fixed-mean
    censuses, and because Durbin-Levinson at
    fixed depth is a rational function of the r_k, both engines evaluate
    the IDENTICAL expression tree — no iteration, hash-checkable.
    Guarded NULL where a recursion denominator degenerates.

    Scale: one daily rollup, metadata lag
    joins, then pure scalar algebra on one row."""
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = e.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("d")
    ).agg(F.sum(_cents(F.col("value"))).alias("y"))

    def hi(c):
        return c.cast(_HI)

    wall = Window.partitionBy()
    idx = daily.select(
        "y",
        F.row_number().over(Window.orderBy("d")).alias("t"),
        F.count("*").over(wall).alias("n"),
        F.sum("y").over(wall).alias("s"),
        F.sum(hi(F.col("y")) * F.col("y")).over(wall).alias("ss"),
    )
    lags = spark.range(1, 5).select(F.col("id").alias("k"))
    a = idx.alias("a")
    b = idx.select(F.col("t").alias("bt"), F.col("y").alias("by"))
    cens = (
        a.crossJoin(F.broadcast(lags))
        .filter(F.col("a.t") > F.col("k"))
        .join(b, F.col("bt") == F.col("a.t") - F.col("k"))
        .groupBy("k", "n", "s", "ss")
        .agg(
            F.count("*").alias("m"),
            F.sum(hi(F.col("a.y")) * F.col("by")).alias("sxy"),
            F.sum(F.col("a.y")).alias("sh"),
            F.sum(F.col("by")).alias("st"),
        )
    )
    n, s = F.col("n"), F.col("s")
    ybar = s.cast("double") / n
    denom = F.col("ss").cast("double") - s.cast("double") * s / n
    r = (
        F.col("sxy").cast("double")
        - ybar * (F.col("sh") + F.col("st"))
        + F.col("m") * ybar * ybar
    ) / denom
    rk = cens.filter(denom > 0).select("k", r.alias("r"))
    piv = rk.agg(
        *[
            F.max(F.when(F.col("k") == i, F.col("r"))).alias(f"r{i}")
            for i in (1, 2, 3, 4)
        ]
    )
    r1, r2, r3, r4 = (F.col(f"r{i}") for i in (1, 2, 3, 4))
    dl = piv.filter(F.abs(r1) < 1).select(
        "*",
        r1.alias("p1"),
        ((r2 - r1 * r1) / (1.0 - r1 * r1)).alias("p2"),
    )
    dl2 = dl.select("*", (r1 - F.col("p2") * r1).alias("f21"))
    f21, p2 = F.col("f21"), F.col("p2")
    den3 = 1.0 - f21 * r1 - p2 * r2
    dl3 = dl2.filter(F.abs(den3) > 1e-12).select(
        "*", ((r3 - f21 * r2 - p2 * r1) / den3).alias("p3")
    )
    p3 = F.col("p3")
    dl4 = dl3.select("*", (f21 - p3 * p2).alias("f31"), (p2 - p3 * f21).alias("f32"))
    f31, f32 = F.col("f31"), F.col("f32")
    den4 = 1.0 - f31 * r1 - f32 * r2 - p3 * r3
    return dl4.select(
        F.round(F.col("p1"), 6).alias("pacf1"),
        F.round(p2, 6).alias("pacf2"),
        F.round(p3, 6).alias("pacf3"),
        F.when(
            F.abs(den4) > 1e-12,
            F.round((r4 - f31 * r3 - f32 * r2 - p3 * r1) / den4, 6),
        ).alias("pacf4"),
    )


# --------------------------------------------------------------------------
# Mutual information between two categoricals (round 7)
# --------------------------------------------------------------------------
@register(
    "q_mutual_info",
    driver=False,  # §2.11 feature-diagnostics tier beside q_chi_square
    oracle="""
WITH e AS (
  SELECT event_type, user_id % 4 AS seg
  FROM events WHERE value IS NOT NULL
), cells AS (
  SELECT event_type, seg, CAST(count(*) AS BIGINT) AS n_xy
  FROM e GROUP BY 1, 2
), rx AS (
  SELECT event_type, CAST(sum(n_xy) AS BIGINT) AS n_x FROM cells GROUP BY 1
), ry AS (
  SELECT seg, CAST(sum(n_xy) AS BIGINT) AS n_y FROM cells GROUP BY 1
), t AS (
  SELECT CAST(sum(n_xy) AS BIGINT) AS n_tot FROM cells
), j AS (
  SELECT n_xy, n_tot,
         CAST(round(ln((n_xy * 1.0 * n_tot) / (n_x * 1.0 * n_y)) * 1000000)
              AS BIGINT) AS r_u
  FROM cells JOIN rx USING (event_type) JOIN ry USING (seg) CROSS JOIN t
)
SELECT CAST(max(n_tot) AS BIGINT) AS n,
       CAST(count(*) AS BIGINT) AS n_cells,
       round(CAST(sum(CAST(n_xy AS HUGEINT) * r_u) AS DOUBLE)
             / max(n_tot) / 1000000, 6) AS mi_nats
FROM j
""",
)
def q_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(X;Y) between event_type and a user segment
    (user_id mod 4) in nats — the dependence measure behind feature
    selection and leakage audits, the continuous-score companion to
    q_chi_square's test statistic (SURVEY §2.11 diagnostics tier).

    Engine parity (auto-memory discipline): each cell's log-ratio
    ln(n_xy·N / (n_x·n_y)) is computed from EXACT integer counts — the
    double products stay < 2^53 so the quotient is the identical IEEE
    value in both engines — then quantized to integer MICRO-nats
    (round(·1e6), the q_realized_vol convention). The weighted sum
    Σ n_xy·r_u runs in 128-bit (decimal(38,0)/HUGEINT); the only double
    division is the final /N/1e6.

    Scale: one (x,y)-cell shuffle (partial+final), margins are cell-table
    rollups of k·4 rows, everything after is metadata-sized."""
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cells = e.groupBy(
        "event_type", (F.col("user_id") % 4).alias("seg")
    ).agg(F.count("*").cast("long").alias("n_xy"))
    rx = cells.groupBy("event_type").agg(F.sum("n_xy").cast("long").alias("n_x"))
    ry = cells.groupBy("seg").agg(F.sum("n_xy").cast("long").alias("n_y"))
    t = cells.agg(F.sum("n_xy").cast("long").alias("n_tot"))
    j = (
        cells.join(F.broadcast(rx), "event_type")
        .join(F.broadcast(ry), "seg")
        .crossJoin(F.broadcast(t))
        .select(
            "n_xy",
            "n_tot",
            F.round(
                F.log(
                    (F.col("n_xy") * 1.0 * F.col("n_tot"))
                    / (F.col("n_x") * 1.0 * F.col("n_y"))
                )
                * 1000000
            )
            .cast("long")
            .alias("r_u"),
        )
    )
    return j.agg(
        F.max("n_tot").cast("long").alias("n"),
        F.count("*").cast("long").alias("n_cells"),
        F.round(
            F.sum(F.col("n_xy").cast(_HI) * F.col("r_u")).cast("double")
            / F.max("n_tot")
            / 1000000,
            6,
        ).alias("mi_nats"),
    )

