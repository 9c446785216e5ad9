"""Classical hypothesis tests as distributed queries (round 4).

SURVEY §2.3 statistical extensions, same tier as q_ab_test/q_ols_trend:
the inferential-statistics layer a training-data / experimentation
pipeline runs at corpus scale — chi-square independence, Mann-Whitney U,
two-sample Kolmogorov-Smirnov, and one-way ANOVA, each over the
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

import math

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


# --------------------------------------------------------------------------
# One-way ANOVA
# --------------------------------------------------------------------------
@register(
    "q_anova",
    driver=False,  # §2.3 statistical extension — pytest oracle
    oracle="""
WITH g AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT)                                    AS n_g,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)     AS s_g,
         CAST(sum(CAST(round(value * 100) AS BIGINT)
                  * CAST(round(value * 100) AS BIGINT)) AS BIGINT)   AS ss_g
  FROM events WHERE value IS NOT NULL
  GROUP BY event_type
), t AS (
  -- exact-sum discipline: s_g²/n_g is split into integer quotient +
  -- sub-unit remainder fraction so the cross-group sums are an exact
  -- BIGINT plus a sum of k tiny doubles — order-independent in both
  -- engines to ~1e-15, where a raw double sum of s_g²/n_g terms is
  -- order-dependent at the rounding boundary. Squares are widened to
  -- HUGEINT (Spark twin: DECIMAL(38,0)) before squaring: s² is already
  -- ~2.2e18 at sf0.01, within 4x of the int64 limit
  SELECT CAST(count(*) AS BIGINT)  AS k,
         CAST(sum(n_g) AS BIGINT)  AS n,
         CAST(sum(s_g) AS BIGINT)  AS s,
         CAST(sum(ss_g) AS BIGINT) AS ss,
         CAST(sum((CAST(s_g AS HUGEINT) * s_g) // n_g) AS BIGINT)       AS q,
         sum(CAST((CAST(s_g AS HUGEINT) * s_g) % n_g AS DOUBLE) / CAST(n_g AS DOUBLE)) AS fr
  FROM g
), gr AS (
  SELECT k, n, s, ss, q, fr,
         CAST((CAST(s AS HUGEINT) * s) // n AS BIGINT)                  AS gq,
         CAST((CAST(s AS HUGEINT) * s) % n AS DOUBLE) / CAST(n AS DOUBLE) AS gfr
  FROM t
)
SELECT k, n,
       round(((q - gq) + (fr - gfr)) / 10000.0, 4)                        AS ss_between,
       round(((ss - q) - fr) / 10000.0, 4)                                AS ss_within,
       round((((q - gq) + (fr - gfr)) / (k - 1))
             / (((ss - q) - fr) / CAST(n - k AS DOUBLE)), 6)              AS f_stat,
       round(((q - gq) + (fr - gfr)) / ((ss - gq) - gfr), 6)              AS eta_sq
FROM gr
""",
)
def q_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of value across the five event types: per-group
    (n, Σx, Σx²) in exact integer cents, then SSB = Σ s_g²/n_g − S²/N and
    SSW = ΣΣx² − Σ s_g²/n_g assembled identically in both engines; emits
    F, effect size η², and the sums of squares back in value units.

    Scale: the classic two-level reduction — one partial/final groupBy on
    event_type, then a k-row statistic assembly; nothing after the first
    shuffle is data-sized."""
    c = _cents(F.col("value"))
    g = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_g"),
            F.sum(c).alias("s_g"),
            F.sum(c * c).alias("ss_g"),
        )
    )
    # squares widen to DECIMAL(38,0) (DuckDB twin: HUGEINT) before the
    # quotient/remainder split — s² is ~2.2e18 at sf0.01, so a raw BIGINT
    # square overflows from sf0.04 on; the per-group s_g² follows suit for
    # the same reason one scale decade later
    t = g.agg(
        F.count("*").alias("k"),
        F.sum("n_g").alias("n"),
        F.sum("s_g").alias("s"),
        F.sum("ss_g").alias("ss"),
        # exact-sum split: integer quotients sum in BIGINT, remainders are
        # k sub-unit doubles — order-independent to ~1e-15 (oracle twin
        # carries the identical split)
        F.sum(
            F.expr("(cast(s_g as decimal(19,0)) * cast(s_g as decimal(19,0))) div n_g")
        ).alias("q"),
        F.sum(
            F.expr(
                "cast((cast(s_g as decimal(19,0)) * cast(s_g as decimal(19,0))) % n_g as double)"
            )
            / F.col("n_g").cast("double")
        ).alias("fr"),
    )
    grand_q = F.expr("(cast(s as decimal(19,0)) * cast(s as decimal(19,0))) div n")
    grand_fr = F.expr(
        "cast((cast(s as decimal(19,0)) * cast(s as decimal(19,0))) % n as double)"
    ) / F.col("n").cast("double")
    ssb = (F.col("q") - grand_q) + (F.col("fr") - grand_fr)
    ssw = (F.col("ss") - F.col("q")) - F.col("fr")
    sst = (F.col("ss") - grand_q) - grand_fr
    return t.select(
        "k",
        "n",
        F.round(ssb / 10000.0, 4).alias("ss_between"),
        F.round(ssw / 10000.0, 4).alias("ss_within"),
        F.round((ssb / (F.col("k") - 1)) / (ssw / (F.col("n") - F.col("k")).cast("double")), 6).alias("f_stat"),
        F.round(ssb / sst, 6).alias("eta_sq"),
    )


# --------------------------------------------------------------------------
# Pearson correlation (per group, exact integer moments)
# --------------------------------------------------------------------------
_HI = "decimal(38,0)"  # Spark twin of DuckDB HUGEINT: exact 128-bit-ish ints


@register(
    "q_correlation",
    driver=False,  # §2.3 statistical extension — pytest oracle
    oracle="""
WITH s AS (
  SELECT event_type,
         CAST(round(value * 100) AS BIGINT)    AS x,
         CAST(EXTRACT(hour FROM ts) AS BIGINT) AS y
  FROM events WHERE value IS NOT NULL
), g AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT)   AS n,
         CAST(sum(x) AS BIGINT)     AS sx,
         CAST(sum(y) AS BIGINT)     AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM s GROUP BY event_type
)
SELECT event_type, n,
       CASE WHEN CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx > 0
             AND CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy > 0 THEN
         round(CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
               / (sqrt(CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE))
                  * sqrt(CAST(CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE))), 6)
       END AS pearson_r
FROM g
""",
)
def q_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type Pearson correlation between value (integer cents) and
    hour-of-day — the feature-relationship scan a curation pipeline runs
    before mixing signals (SURVEY §2.3 statistical extensions).

    Parity discipline: the five moment sums (n, Σx, Σy, Σx², Σy², Σxy) are
    exact BIGINTs from one groupBy; the assembled numerator/variances
    n·Σxy − Σx·Σy would overflow 64 bits (n·Σx² ≈ 3.6e19 at sf0.01), so
    both engines widen to exact 128-bit integers (Spark DECIMAL(38,0) ↔
    DuckDB HUGEINT) and convert the identical integer to double only for
    the final sqrt/divide — same IEEE value in both engines, then a 6-dp
    round. Zero-variance groups yield NULL under identical guards.

    Scale: one partial/final shuffle on event_type; the correlation
    assembly is k rows of metadata. The moment-sum shape is the textbook
    single-pass distributed corr at any scale."""
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    s = e.select(
        "event_type",
        _cents(F.col("value")).alias("x"),
        F.hour("ts").cast("long").alias("y"),
    )
    g = s.groupBy("event_type").agg(
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
    r = covn.cast("double") / (
        F.sqrt(varx.cast("double")) * F.sqrt(vary.cast("double"))
    )
    return g.select(
        "event_type",
        "n",
        F.when((varx > 0) & (vary > 0), F.round(r, 6)).alias("pearson_r"),
    )


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
    the shared 128-bit assembly of :func:`q_correlation` applies verbatim
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
    squared brushes 2^63), then the q_correlation assembly runs per lag.

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
# Welch's two-sample t-test (unequal variances)
# --------------------------------------------------------------------------
@register(
    "q_welch_ttest",
    driver=False,  # §2.3 statistical extension — pytest oracle
    oracle="""
WITH s AS (
  SELECT event_type AS grp, CAST(round(value * 100) AS BIGINT) AS c
  FROM events
  WHERE event_type IN ('click', 'view') AND value IS NOT NULL
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
         max(CASE WHEN grp = 'view' THEN n END)   AS n2,
         max(CASE WHEN grp = 'view' THEN s END)   AS s2,
         max(CASE WHEN grp = 'view' THEN ss END)  AS ss2
  FROM g
), v AS (
  SELECT n1, n2, s1, s2,
         CAST(CAST(n1 AS HUGEINT) * ss1 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
           / (CAST(n1 AS DOUBLE) * (n1 - 1)) / n1 AS se1,
         CAST(CAST(n2 AS HUGEINT) * ss2 - CAST(s2 AS HUGEINT) * s2 AS DOUBLE)
           / (CAST(n2 AS DOUBLE) * (n2 - 1)) / n2 AS se2
  FROM w
)
SELECT n1, n2,
       round(s1 / (100.0 * n1), 4) AS mean_click,
       round(s2 / (100.0 * n2), 4) AS mean_view,
       round((s1 / CAST(n1 AS DOUBLE) - s2 / CAST(n2 AS DOUBLE))
             / sqrt(se1 + se2), 6) AS t_stat,
       round((se1 + se2) * (se1 + se2)
             / (se1 * se1 / (n1 - 1) + se2 * se2 / (n2 - 1)), 4) AS dof_welch
FROM v
""",
)
def q_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test: click vs view event values. Per-group
    moments (n, Σx, Σx²) are exact integer cents from one groupBy; the
    variance numerator n·Σx² − (Σx)² widens to 128-bit (Spark DECIMAL(38,0)
    ↔ DuckDB HUGEINT — it brushes 2⁶³ at sf0.1) before ONE double
    conversion, then t and the Welch–Satterthwaite dof assemble through the
    identical IEEE tree in both engines (sqrt is correctly rounded — safe).
    SURVEY §2.3 statistical extensions, the two-sample companion to
    q_anova's k-group F.

    Scale: one partial/final shuffle on event_type; the two-row pivot and
    statistic assembly are metadata."""
    s = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "view") & F.col("value").isNotNull())
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
        F.max(F.when(F.col("grp") == "view", F.col("n"))).alias("n2"),
        F.max(F.when(F.col("grp") == "view", F.col("s"))).alias("s2"),
        F.max(F.when(F.col("grp") == "view", F.col("ss"))).alias("ss2"),
    )

    def hi(c):
        return c.cast(_HI)

    def se(n, s_, ss):
        vnum = hi(F.col(n)) * hi(F.col(ss)) - hi(F.col(s_)) * hi(F.col(s_))
        return vnum.cast("double") / (
            F.col(n).cast("double") * (F.col(n) - 1)
        ) / F.col(n)

    v = w.select(
        "n1",
        "n2",
        "s1",
        "s2",
        se("n1", "s1", "ss1").alias("se1"),
        se("n2", "s2", "ss2").alias("se2"),
    )
    tnum = F.col("s1") / F.col("n1").cast("double") - F.col("s2") / F.col("n2").cast("double")
    sesum = F.col("se1") + F.col("se2")
    return v.select(
        "n1",
        "n2",
        F.round(F.col("s1") / (100.0 * F.col("n1")), 4).alias("mean_click"),
        F.round(F.col("s2") / (100.0 * F.col("n2")), 4).alias("mean_view"),
        F.round(tnum / F.sqrt(sesum), 6).alias("t_stat"),
        F.round(
            sesum * sesum
            / (
                F.col("se1") * F.col("se1") / (F.col("n1") - 1)
                + F.col("se2") * F.col("se2") / (F.col("n2") - 1)
            ),
            4,
        ).alias("dof_welch"),
    )


# --------------------------------------------------------------------------
# Kendall tau-b over the daily (revenue, activity) series
# --------------------------------------------------------------------------
@register(
    "q_kendall_tau",
    driver=False,  # §2.3 statistical extension — pytest oracle
    oracle="""
WITH daily AS (
  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x,
         CAST(count(*) AS BIGINT) AS y
  FROM events WHERE value IS NOT NULL
  GROUP BY 1
), pairs AS (
  -- coalesce: a 0/1-day series has NO pairs — sum over the empty join is
  -- NULL in both engines; the census must read (0, 0), not (NULL, NULL)
  SELECT coalesce(CAST(sum(CASE WHEN (b.x > a.x AND b.y > a.y)
                         OR (b.x < a.x AND b.y < a.y) THEN 1 ELSE 0 END) AS BIGINT), 0) AS c,
         coalesce(CAST(sum(CASE WHEN (b.x > a.x AND b.y < a.y)
                         OR (b.x < a.x AND b.y > a.y) THEN 1 ELSE 0 END) AS BIGINT), 0) AS d,
         coalesce(CAST(sum(CASE WHEN b.x = a.x THEN 1 ELSE 0 END) AS BIGINT), 0) AS tx,
         coalesce(CAST(sum(CASE WHEN b.y = a.y THEN 1 ELSE 0 END) AS BIGINT), 0) AS ty
  FROM daily a JOIN daily b ON b.d > a.d
), n AS (
  SELECT CAST(count(*) AS BIGINT) AS n_days,
         CAST(count(*) AS BIGINT) * (CAST(count(*) AS BIGINT) - 1) / 2 AS n0
  FROM daily
)
SELECT n_days, c AS concordant, d AS discordant,
       round((c - d) / sqrt((n0 - tx) * CAST(n0 - ty AS DOUBLE)), 6) AS tau_b
FROM pairs, n
""",
)
def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between daily revenue (exact cents) and daily event
    count — the rank-concordance companion to q_spearman, robust to the
    monotone-but-nonlinear relationships a forecasting pipeline screens
    for (SURVEY §2.3 statistical extensions). Concordant/discordant/tie
    censuses are exact integer pair counts; tau-b divides by one sqrt of an
    exact integer product — identical IEEE in both engines.

    Scale: the daily rollup is the only data-sized shuffle; the O(days²)
    pair join runs over the metadata-sized series with the right side
    broadcast — same shape at 100 TB (days grow linearly, not with rows).
    For row-level tau at scale the O(n log n) merge-sort inversion count
    replaces the pair join."""
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = e.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("d")
    ).agg(
        F.sum(_cents(F.col("value"))).alias("x"),
        F.count("*").alias("y"),
    )
    b = daily.select(
        F.col("d").alias("bd"), F.col("x").alias("bx"), F.col("y").alias("by")
    )
    conc = (F.col("bx") > F.col("x")) & (F.col("by") > F.col("y")) | (
        F.col("bx") < F.col("x")
    ) & (F.col("by") < F.col("y"))
    disc = (F.col("bx") > F.col("x")) & (F.col("by") < F.col("y")) | (
        F.col("bx") < F.col("x")
    ) & (F.col("by") > F.col("y"))
    # coalesce: a 0/1-day series has no pairs — sum over the empty join is
    # NULL; the census must read (0, 0) in both engines (hypothesis-found)
    pairs = daily.join(F.broadcast(b), F.col("bd") > F.col("d")).agg(
        F.coalesce(F.sum(F.when(conc, 1).otherwise(0)), F.lit(0)).alias("c"),
        F.coalesce(F.sum(F.when(disc, 1).otherwise(0)), F.lit(0)).alias("d"),
        F.coalesce(
            F.sum(F.when(F.col("bx") == F.col("x"), 1).otherwise(0)), F.lit(0)
        ).alias("tx"),
        F.coalesce(
            F.sum(F.when(F.col("by") == F.col("y"), 1).otherwise(0)), F.lit(0)
        ).alias("ty"),
    )
    n = daily.agg(
        F.count("*").alias("n_days"),
        (F.count("*") * (F.count("*") - 1) / 2).cast("long").alias("n0"),
    )
    j = pairs.crossJoin(F.broadcast(n))
    return j.select(
        "n_days",
        F.col("c").alias("concordant"),
        F.col("d").alias("discordant"),
        F.round(
            (F.col("c") - F.col("d"))
            / F.sqrt((F.col("n0") - F.col("tx")) * (F.col("n0") - F.col("ty")).cast("double")),
            6,
        ).alias("tau_b"),
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
    companion to q_welch_ttest's unequal-variance t: significance says a
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
# Brown–Forsythe (median-based Levene) variance-homogeneity test (round 5)
# --------------------------------------------------------------------------
@register(
    "q_levene",
    driver=False,  # §2.3 statistical extension (round 5) — pytest oracle
    oracle="""
WITH s AS (
  SELECT event_type AS grp, CAST(round(value * 100) AS BIGINT) AS c
  FROM events WHERE value IS NOT NULL
), r AS (
  SELECT grp, c,
         row_number() OVER (PARTITION BY grp ORDER BY c) AS rn,
         CAST(count(*) OVER (PARTITION BY grp) AS BIGINT) AS n_g
  FROM s
), med AS (
  -- LOWER median by rank: position (n+1)//2 — identical integer pick in
  -- both engines, no interpolation (interpolated medians of even counts
  -- would reintroduce engine-specific x.5 handling)
  SELECT grp, c AS m FROM r WHERE rn = (n_g + 1) // 2
), z AS (
  SELECT s.grp, abs(s.c - med.m) AS z
  FROM s JOIN med ON s.grp = med.grp
), g AS (
  SELECT grp,
         CAST(count(*) AS BIGINT) AS n_g,
         CAST(sum(z) AS BIGINT)   AS s_g,
         CAST(sum(z * z) AS BIGINT) AS ss_g
  FROM z GROUP BY grp
), t AS (
  SELECT CAST(count(*) AS BIGINT)  AS k,
         CAST(sum(n_g) AS BIGINT)  AS n,
         CAST(sum(s_g) AS BIGINT)  AS s,
         CAST(sum(ss_g) AS BIGINT) AS ss,
         CAST(sum((CAST(s_g AS HUGEINT) * s_g) // n_g) AS BIGINT) AS q,
         sum(CAST((CAST(s_g AS HUGEINT) * s_g) % n_g AS DOUBLE) / CAST(n_g AS DOUBLE)) AS fr
  FROM g
), gr AS (
  SELECT k, n, q, fr, ss,
         CAST((CAST(s AS HUGEINT) * s) // n AS BIGINT) AS gq,
         CAST((CAST(s AS HUGEINT) * s) % n AS DOUBLE) / CAST(n AS DOUBLE) AS gfr
  FROM t
)
SELECT k, n,
       round((((q - gq) + (fr - gfr)) / (k - 1))
             / (((ss - q) - fr) / CAST(n - k AS DOUBLE)), 6) AS bf_stat
FROM gr
""",
)
def q_levene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown–Forsythe test (the median-based Levene): are the five event
    types' value VARIANCES equal — the assumption q_anova's F quietly makes
    (SURVEY §2.3 statistical extensions). Per-group LOWER medians are picked
    by integer rank position ((n+1) div 2 — no interpolation, so no
    engine-specific x.5 handling), absolute deviations |c − med| stay exact
    integer cents, and the one-way F on those deviations reuses q_anova's
    exact quotient/remainder machinery with 128-bit-widened squares.

    Scale: the median needs one per-group sort (a rank window over the
    grouped data — the same shuffle ANOVA pays anyway); everything after is
    the k-row statistic assembly. At extreme group sizes swap the rank
    median for a fixed-point quantile sketch and keep the F assembly."""
    s = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(F.col("event_type").alias("grp"), _cents(F.col("value")).alias("c"))
    )
    wr = Window.partitionBy("grp").orderBy("c")
    r = s.select(
        "grp",
        "c",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(Window.partitionBy("grp")).alias("n_g"),
    )
    med = r.filter(F.col("rn") == F.expr("(n_g + 1) div 2")).select(
        "grp", F.col("c").alias("m")
    )
    z = s.join(med, "grp").select("grp", F.abs(F.col("c") - F.col("m")).alias("z"))
    g = z.groupBy("grp").agg(
        F.count("*").alias("n_g"),
        F.sum("z").alias("s_g"),
        F.sum(F.col("z") * F.col("z")).alias("ss_g"),
    )
    t = g.agg(
        F.count("*").alias("k"),
        F.sum("n_g").alias("n"),
        F.sum("s_g").alias("s"),
        F.sum("ss_g").alias("ss"),
        F.sum(
            F.expr("(cast(s_g as decimal(19,0)) * cast(s_g as decimal(19,0))) div n_g")
        ).alias("q"),
        F.sum(
            F.expr(
                "cast((cast(s_g as decimal(19,0)) * cast(s_g as decimal(19,0))) % n_g as double)"
            )
            / F.col("n_g").cast("double")
        ).alias("fr"),
    )
    gq = F.expr("(cast(s as decimal(19,0)) * cast(s as decimal(19,0))) div n")
    gfr = F.expr(
        "cast((cast(s as decimal(19,0)) * cast(s as decimal(19,0))) % n as double)"
    ) / F.col("n").cast("double")
    ssb = (F.col("q") - gq) + (F.col("fr") - gfr)
    ssw = (F.col("ss") - F.col("q")) - F.col("fr")
    return t.select(
        "k",
        "n",
        F.round(
            (ssb / (F.col("k") - 1))
            / (ssw / (F.col("n") - F.col("k")).cast("double")),
            6,
        ).alias("bf_stat"),
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
# Two-proportion z-test with Wilson intervals (round 5)
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
    "q_two_proportion",
    driver=False,  # §2.3 statistical extension (round 5) — pytest oracle
    oracle=_PROP_2X2
    + """
SELECT a + b AS n_exposed, c + d AS n_unexposed,
       round(a / CAST(a + b AS DOUBLE), 6) AS p_exposed,
       round(c / CAST(c + d AS DOUBLE), 6) AS p_unexposed,
       round((a / CAST(a + b AS DOUBLE) - c / CAST(c + d AS DOUBLE))
             / sqrt((a + c) / CAST(a + b + c + d AS DOUBLE)
                    * (1.0 - (a + c) / CAST(a + b + c + d AS DOUBLE))
                    * (1.0 / (a + b) + 1.0 / (c + d))), 6) AS z_stat,
       round((a / CAST(a + b AS DOUBLE) + 1.9599639845400545 * 1.9599639845400545 / (2.0 * (a + b))
              - 1.9599639845400545 * sqrt(a / CAST(a + b AS DOUBLE) * (1.0 - a / CAST(a + b AS DOUBLE)) / (a + b)
                           + 1.9599639845400545 * 1.9599639845400545 / (4.0 * (a + b) * CAST(a + b AS DOUBLE))))
             / (1.0 + 1.9599639845400545 * 1.9599639845400545 / (a + b)), 6) AS wilson_lo_exposed,
       round((a / CAST(a + b AS DOUBLE) + 1.9599639845400545 * 1.9599639845400545 / (2.0 * (a + b))
              + 1.9599639845400545 * sqrt(a / CAST(a + b AS DOUBLE) * (1.0 - a / CAST(a + b AS DOUBLE)) / (a + b)
                           + 1.9599639845400545 * 1.9599639845400545 / (4.0 * (a + b) * CAST(a + b AS DOUBLE))))
             / (1.0 + 1.9599639845400545 * 1.9599639845400545 / (a + b)), 6) AS wilson_hi_exposed
FROM cells
""",
)
def q_two_proportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test of later high-value purchase conversion,
    week-1 high-value clickers vs everyone else (all four 2×2 cells are
    populated at every fixture sf — the trivial any-click/any-purchase
    split is degenerate here), with the WILSON score interval for the
    exposed rate
    (SURVEY §2.3 statistical extensions — the proportion counterpart to
    q_welch_ttest): the 2×2 census is exact per-user integers from one
    groupBy; the pooled-SE z and the Wilson bounds (the interval that
    stays inside [0,1] and behaves at small n, unlike Wald) assemble
    through one shared IEEE tree with the z=1.96 critical value spelled to
    full double precision in both engines.

    Scale: one shuffle to user_id for the exposure/outcome census, then a
    1-row statistic assembly."""
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
    n1 = (a + b).cast("double")
    n2 = (c + d).cast("double")
    p1 = a / n1
    p2 = c / n2
    pp = (a + c) / (a + b + c + d).cast("double")
    zstat = (p1 - p2) / F.sqrt(pp * (1.0 - pp) * (1.0 / (a + b) + 1.0 / (c + d)))
    center = p1 + z * z / (2.0 * (a + b))
    half = z * F.sqrt(p1 * (1.0 - p1) / (a + b) + z * z / (4.0 * (a + b) * n1))
    denom = 1.0 + z * z / (a + b)
    return cells.select(
        (a + b).alias("n_exposed"),
        (c + d).alias("n_unexposed"),
        F.round(p1, 6).alias("p_exposed"),
        F.round(p2, 6).alias("p_unexposed"),
        F.round(zstat, 6).alias("z_stat"),
        F.round((center - half) / denom, 6).alias("wilson_lo_exposed"),
        F.round((center + half) / denom, 6).alias("wilson_hi_exposed"),
    )


# --------------------------------------------------------------------------
# Odds ratio / relative risk with log-scale CIs (round 5)
# --------------------------------------------------------------------------
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
    q_two_proportion's significance z): the 2×2 cells are exact per-user
    integers, OR = ad/bc and RR assemble in one shared double tree, and
    the CI exponentiates ln(OR) ± 1.96·√(Σ 1/cell) — ln/exp at the very
    end only, 6-dp rounded (the q_token_entropy libm discipline).

    Scale: identical to q_two_proportion — one user-keyed census shuffle,
    1-row assembly."""
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
# Kruskal-Wallis H (round 5 continuation)
# --------------------------------------------------------------------------
@register(
    "q_kruskal_wallis",
    driver=False,  # §2.3 statistical extension (round 5) — pytest oracle
    oracle="""
WITH s AS (
  SELECT event_type AS grp, CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL
), ranked AS (
  SELECT grp,
         rank() OVER (ORDER BY cents) + (count(*) OVER (PARTITION BY cents) - 1) / 2.0
           AS avg_rank
  FROM s
), pergrp AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS ni, sum(avg_rank) AS ri
  FROM ranked GROUP BY grp
), ties AS (
  SELECT coalesce(sum(CAST(t AS HUGEINT) * t * t - t), 0) AS tie3
  FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM s GROUP BY cents) u
  WHERE t > 1
), agg AS (
  SELECT CAST(sum(ni) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k,
         sum(ri * ri / ni) AS rsq
  FROM pergrp
)
SELECT n, k, CAST(k - 1 AS BIGINT) AS dof,
       CASE WHEN CAST(tie3 AS HUGEINT) < CAST(n AS HUGEINT) * n * n - n THEN
         round(
           (12.0 * rsq / (CAST(n AS DOUBLE) * (n + 1)) - 3.0 * (n + 1))
           / (1.0 - CAST(tie3 AS DOUBLE)
                    / CAST(CAST(n AS HUGEINT) * n * n - n AS DOUBLE)),
           6)
       END AS h_stat
FROM agg, ties
""",
)
def q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H across ALL event types — the k-sample extension of
    q_mann_whitney (SURVEY §2.3 statistical extensions). Average ranks are
    min-rank + (ties−1)/2 (exact 0.5 multiples), per-group rank sums stay
    exact in doubles, and the tie-corrected H assembles integer
    (n, k, Σ(t³−t)) through one shared IEEE tree. The cubes N³ and t³
    widen to DECIMAL/HUGEINT before multiplying (the q_anova overflow
    lesson, ADVICE r4): 64-bit squares of large totals are the class of
    bug that passes at sf0.01 and throws at sf0.04.

    Scale: like q_mann_whitney, ranking is a global sort (one window task
    here); at 100 TB swap in range-partitioned ranking. Everything after
    is a k-row metadata assembly."""
    s = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(F.col("event_type").alias("grp"), _cents(F.col("value")).alias("cents"))
    )
    ranked = s.select(
        "grp",
        (
            F.rank().over(Window.orderBy("cents"))
            + (F.count("*").over(Window.partitionBy("cents")) - 1) / 2.0
        ).alias("avg_rank"),
    )
    pergrp = ranked.groupBy("grp").agg(
        F.count("*").alias("ni"), F.sum("avg_rank").alias("ri")
    )
    td = F.col("t").cast("decimal(12,0)")
    ties = (
        s.groupBy("cents")
        .agg(F.count("*").alias("t"))
        .filter(F.col("t") > 1)
        .agg(F.coalesce(F.sum(td * td * td - td), F.lit(0).cast("decimal(38,0)")).alias("tie3"))
    )
    agg = pergrp.agg(
        F.sum("ni").alias("n"),
        F.count("*").alias("k"),
        F.sum(F.col("ri") * F.col("ri") / F.col("ni")).alias("rsq"),
    )
    j = agg.crossJoin(F.broadcast(ties))
    n, k = F.col("n"), F.col("k")
    nd = n.cast("decimal(12,0)")
    n3 = (nd * nd * nd - nd).cast("double")
    h = (12.0 * F.col("rsq") / (n.cast("double") * (n + 1)) - 3.0 * (n + 1)) / (
        1.0 - F.col("tie3").cast("double") / n3
    )
    # all-values-identical degenerate case: tie3 == N³−N ⇒ denominator 0
    h = F.when(F.col("tie3").cast("decimal(38,0)") < (nd * nd * nd - nd), F.round(h, 6))
    return j.select("n", "k", (k - 1).cast("long").alias("dof"), h.alias("h_stat"))


# --------------------------------------------------------------------------
# McNemar paired-proportions test (round 5 continuation)
# --------------------------------------------------------------------------
@register(
    "q_mcnemar",
    driver=False,  # §2.3 statistical extension (round 5) — pytest oracle
    oracle="""
WITH u AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'click' AND value >= 120 THEN 1 ELSE 0 END)    AS x,
         max(CASE WHEN event_type = 'purchase' AND value >= 120 THEN 1 ELSE 0 END) AS y
  FROM events GROUP BY user_id
), cells AS (
  SELECT CAST(sum(CASE WHEN x = 1 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11,
         CAST(sum(CASE WHEN x = 1 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
         CAST(sum(CASE WHEN x = 0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
         CAST(sum(CASE WHEN x = 0 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00
  FROM u
)
SELECT n11, n10, n01, n00,
       CASE WHEN n10 + n01 > 0 THEN
         round((abs(n10 - n01) - 1) * CAST(abs(n10 - n01) - 1 AS DOUBLE)
               / (n10 + n01), 6)
       END AS mcnemar_chi2
FROM cells
""",
)
def q_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test on PAIRED per-user binaries: "ever a high-value
    click" vs "ever a high-value purchase" (≥ $120) — the
    marginal-homogeneity companion to q_two_proportion, which compares
    INDEPENDENT groups (SURVEY §2.3 statistical extensions). Only the
    discordant cells n10/n01 carry signal; the continuity-corrected
    statistic (|n10−n01|−1)²/(n10+n01) assembles exact integers in one
    shared double tree, NULL when no discordant pairs exist.

    Scale: one conditional-max groupBy on user_id (map-side partials),
    then a 1-row census — the cheapest paired-design shape."""
    per_user = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max(
                F.when((F.col("event_type") == "click") & (F.col("value") >= 120), 1).otherwise(0)
            ).alias("x"),
            F.max(
                F.when((F.col("event_type") == "purchase") & (F.col("value") >= 120), 1).otherwise(0)
            ).alias("y"),
        )
    )
    cells = per_user.agg(
        F.sum(F.when((F.col("x") == 1) & (F.col("y") == 1), 1).otherwise(0)).alias("n11"),
        F.sum(F.when((F.col("x") == 1) & (F.col("y") == 0), 1).otherwise(0)).alias("n10"),
        F.sum(F.when((F.col("x") == 0) & (F.col("y") == 1), 1).otherwise(0)).alias("n01"),
        F.sum(F.when((F.col("x") == 0) & (F.col("y") == 0), 1).otherwise(0)).alias("n00"),
    )
    disc = F.col("n10") + F.col("n01")
    dev = F.abs(F.col("n10") - F.col("n01")) - 1
    stat = F.when(disc > 0, F.round(dev * dev.cast("double") / disc, 6))
    return cells.select("n11", "n10", "n01", "n00", stat.alias("mcnemar_chi2"))


# --------------------------------------------------------------------------
# Cohen's kappa inter-rater agreement (round 5 continuation)
# --------------------------------------------------------------------------
@register(
    "q_cohen_kappa",
    driver=False,  # §2.3 statistical extension (round 5) — pytest oracle
    oracle="""
WITH cells AS (
  SELECT CAST(sum(CASE WHEN value >= 100 AND event_type IN ('purchase', 'click')
                       THEN 1 ELSE 0 END) AS BIGINT) AS a,
         CAST(sum(CASE WHEN value >= 100 AND event_type NOT IN ('purchase', 'click')
                       THEN 1 ELSE 0 END) AS BIGINT) AS b,
         CAST(sum(CASE WHEN value < 100 AND event_type IN ('purchase', 'click')
                       THEN 1 ELSE 0 END) AS BIGINT) AS c,
         CAST(sum(CASE WHEN value < 100 AND event_type NOT IN ('purchase', 'click')
                       THEN 1 ELSE 0 END) AS BIGINT) AS d
  FROM events WHERE value IS NOT NULL
)
SELECT a + b + c + d AS n,
       round((a + d) / CAST(a + b + c + d AS DOUBLE), 6) AS po,
       round(((a + b) * CAST(a + c AS DOUBLE) + (c + d) * CAST(b + d AS DOUBLE))
             / (CAST(a + b + c + d AS DOUBLE) * (a + b + c + d)), 6) AS pe,
       CASE WHEN ((a + b) * CAST(a + c AS DOUBLE) + (c + d) * CAST(b + d AS DOUBLE))
                 / (CAST(a + b + c + d AS DOUBLE) * (a + b + c + d)) < 1.0 THEN
         round(((a + d) / CAST(a + b + c + d AS DOUBLE)
                - ((a + b) * CAST(a + c AS DOUBLE) + (c + d) * CAST(b + d AS DOUBLE))
                  / (CAST(a + b + c + d AS DOUBLE) * (a + b + c + d)))
               / (1.0 - ((a + b) * CAST(a + c AS DOUBLE) + (c + d) * CAST(b + d AS DOUBLE))
                        / (CAST(a + b + c + d AS DOUBLE) * (a + b + c + d))), 6)
       END AS kappa
FROM cells
""",
)
def q_cohen_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two deterministic "raters" over every event:
    rater A labels by value band (≥ $100), rater B by intent class
    (purchase/click vs rest) — chance-corrected agreement, the
    label-quality metric an annotation pipeline reports per batch
    (SURVEY §2.3 statistical extensions / §2.11 quality family). The 2×2
    census is exact integers; po, pe, and κ = (po−pe)/(1−pe) assemble in
    one shared IEEE tree; marginal products go through DOUBLE before
    multiplying so the pe numerator cannot overflow 64-bit at corpus
    scale (the q_anova lesson, ADVICE r4).

    Scale: a single conditional-sum pass over events — no shuffle beyond
    the final 1-row agg."""
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    hi = F.col("value") >= 100
    intent = F.col("event_type").isin("purchase", "click")
    cells = e.agg(
        F.sum(F.when(hi & intent, 1).otherwise(0)).alias("a"),
        F.sum(F.when(hi & ~intent, 1).otherwise(0)).alias("b"),
        F.sum(F.when(~hi & intent, 1).otherwise(0)).alias("c"),
        F.sum(F.when(~hi & ~intent, 1).otherwise(0)).alias("d"),
    )
    a, b, c, d = F.col("a"), F.col("b"), F.col("c"), F.col("d")
    n = a + b + c + d
    po = (a + d) / n.cast("double")
    pe = ((a + b) * (a + c).cast("double") + (c + d) * (b + d).cast("double")) / (
        n.cast("double") * n
    )
    # single-category degenerate case: pe == 1 ⇒ κ undefined
    return cells.select(
        n.alias("n"),
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.when(pe < 1.0, F.round((po - pe) / (1.0 - pe), 6)).alias("kappa"),
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
    q_anova overflow class). The fractional mean remainder δ = (Σc mod n)/n
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
# Fleiss' kappa multi-rater agreement (round 5 continuation)
# --------------------------------------------------------------------------
@register(
    "q_fleiss_kappa",
    driver=False,  # §2.3 statistical extension (round 5) — pytest oracle
    oracle="""
WITH r AS (
  SELECT (CASE WHEN value >= 100 THEN 1 ELSE 0 END)
         + (CASE WHEN event_type IN ('purchase', 'click') THEN 1 ELSE 0 END)
         + (CASE WHEN value >= 80 THEN 1 ELSE 0 END) AS n_hi
  FROM events WHERE value IS NOT NULL
), census AS (
  SELECT CAST(count(*) AS BIGINT) AS n_items,
         CAST(sum(n_hi) AS BIGINT) AS s_hi,
         CAST(sum(n_hi * n_hi + (3 - n_hi) * (3 - n_hi)) AS BIGINT) AS s_sq
  FROM r
)
SELECT n_items,
       round((s_sq - 3.0 * n_items) / (6.0 * n_items), 6) AS p_bar,
       round((s_hi / (3.0 * n_items)) * (s_hi / (3.0 * n_items))
             + (1.0 - s_hi / (3.0 * n_items)) * (1.0 - s_hi / (3.0 * n_items)), 6)
         AS p_e,
       CASE WHEN (s_hi / (3.0 * n_items)) * (s_hi / (3.0 * n_items))
                 + (1.0 - s_hi / (3.0 * n_items)) * (1.0 - s_hi / (3.0 * n_items))
                 < 1.0 THEN
         round(((s_sq - 3.0 * n_items) / (6.0 * n_items)
                - ((s_hi / (3.0 * n_items)) * (s_hi / (3.0 * n_items))
                   + (1.0 - s_hi / (3.0 * n_items)) * (1.0 - s_hi / (3.0 * n_items))))
               / (1.0 - ((s_hi / (3.0 * n_items)) * (s_hi / (3.0 * n_items))
                         + (1.0 - s_hi / (3.0 * n_items))
                           * (1.0 - s_hi / (3.0 * n_items)))), 6)
       END AS fleiss_kappa
FROM census
""",
)
def q_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa over THREE deterministic labeling functions per event
    (value ≥ $100, intent event type, value ≥ $80) — the weak-supervision
    agreement readout: m=3 raters, 2 categories, every item rated by all
    raters (SURVEY §2.3 statistical extensions; the multi-rater
    generalization of q_cohen_kappa). Per-item agreement
    P_i = (Σ_j n_ij² − m)/(m(m−1)) needs only the exact integer census
    (N, Σn_hi, Σ(n_hi²+n_lo²)); P̄, P_e = Σ p_j², and
    κ = (P̄−P_e)/(1−P_e) assemble in one shared IEEE tree, NULL when all
    ratings land in one category (P_e = 1).

    Scale: the ratings are row-local expressions — a single map-side
    census with no shuffle beyond the 1-row agg, at any corpus size."""
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    n_hi = (
        F.when(F.col("value") >= 100, 1).otherwise(0)
        + F.when(F.col("event_type").isin("purchase", "click"), 1).otherwise(0)
        + F.when(F.col("value") >= 80, 1).otherwise(0)
    )
    census = e.select(n_hi.alias("n_hi")).agg(
        F.count("*").alias("n_items"),
        F.sum("n_hi").alias("s_hi"),
        F.sum(
            F.col("n_hi") * F.col("n_hi")
            + (3 - F.col("n_hi")) * (3 - F.col("n_hi"))
        ).alias("s_sq"),
    )
    n = F.col("n_items")
    p_hi = F.col("s_hi") / (3.0 * n)
    p_bar = (F.col("s_sq") - 3.0 * n) / (6.0 * n)
    p_e = p_hi * p_hi + (1.0 - p_hi) * (1.0 - p_hi)
    return census.select(
        "n_items",
        F.round(p_bar, 6).alias("p_bar"),
        F.round(p_e, 6).alias("p_e"),
        F.when(p_e < 1.0, F.round((p_bar - p_e) / (1.0 - p_e), 6)).alias("fleiss_kappa"),
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
    q_kruskal_wallis, which compares INDEPENDENT samples). Only COMPLETE
    blocks enter (users observed under every treatment — the textbook
    requirement); within-block average ranks are exact 0.5 multiples, so
    rank sums are exact in doubles. The statistic uses the tie-corrected
    variant Q/C with C = 1 − Σ(t³−t)/(n·k·(k²−1)) (the same correction
    family as Kruskal-Wallis; within-block ties on exact cent sums are
    rare but handled). t³ widens to DECIMAL/HUGEINT before multiplying
    (the q_anova overflow lesson, ADVICE r4); NULL when every block is
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
# Cochran's Q test (k paired binary treatments, round 5 continuation)
# --------------------------------------------------------------------------
@register(
    "q_cochran_q",
    driver=False,  # §2.3 statistical extension (round 5) — pytest oracle
    oracle="""
WITH obs AS (
  SELECT user_id, event_type,
         CAST(max(CASE WHEN value >= 100 THEN 1 ELSE 0 END) AS BIGINT) AS resp
  FROM events WHERE value IS NOT NULL
  GROUP BY 1, 2
), dense AS (
  SELECT u.user_id, t.event_type, coalesce(o.resp, 0) AS resp
  FROM (SELECT DISTINCT user_id FROM obs) u
  CROSS JOIN (SELECT DISTINCT event_type FROM obs) t
  LEFT JOIN obs o ON o.user_id = u.user_id AND o.event_type = t.event_type
), gj AS (
  SELECT event_type, CAST(sum(resp) AS BIGINT) AS g FROM dense GROUP BY event_type
), li AS (
  SELECT user_id, CAST(sum(resp) AS BIGINT) AS l FROM dense GROUP BY user_id
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(CAST(g AS HUGEINT) * g) AS HUGEINT) AS gsq,
         CAST(sum(g) AS HUGEINT) AS big_n
  FROM gj
), rows_ AS (
  SELECT CAST(count(*) AS BIGINT) AS n_blocks,
         CAST(sum(CAST(l AS HUGEINT) * l) AS HUGEINT) AS lsq
  FROM li
)
SELECT n_blocks, k, CAST(k - 1 AS BIGINT) AS dof,
       CASE WHEN k * big_n - lsq > 0 THEN
         round((k - 1) * CAST(k * gsq - big_n * big_n AS DOUBLE)
               / CAST(k * big_n - lsq AS DOUBLE), 6)
       END AS q_stat
FROM tot, rows_
""",
)
def q_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q over k PAIRED binary treatments: did user i ever record
    a high-value (≥ $100) event of type j? — the k-treatment extension of
    q_mcnemar (2 treatments) and the binary counterpart of q_friedman
    (SURVEY §2.3 statistical extensions). Blocks are densified (a user
    with no events of a type responds 0 — absence IS the negative
    response), column totals G_j, row totals L_i and the grand total N
    stay exact integers, and Q = (k−1)(kΣG² − N²)/(kN − ΣL²) assembles
    through one shared IEEE tree. Squares widen to HUGEINT/decimal before
    multiplying (the q_anova lesson); NULL when every block responds
    identically under all treatments (denominator 0).

    Scale: one (user, type) groupBy; the densify cross join is
    |users| × k with k a handful of treatments — a broadcast of the k-row
    type list against the user table, then two partial-agg shuffles."""
    obs = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .groupBy("user_id", "event_type")
        .agg(F.max(F.when(F.col("value") >= 100, 1).otherwise(0)).alias("resp"))
    )
    users = obs.select("user_id").distinct()
    types = obs.select("event_type").distinct()
    dense = (
        users.crossJoin(F.broadcast(types))
        .join(obs, ["user_id", "event_type"], "left")
        .select("user_id", "event_type", F.coalesce("resp", F.lit(0)).alias("resp"))
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    gj = dense.groupBy("event_type").agg(F.sum("resp").alias("g"))
    li = dense.groupBy("user_id").agg(F.sum("resp").alias("l"))
    tot = gj.agg(
        F.count("*").alias("k"),
        F.sum(dec(F.col("g")) * F.col("g")).alias("gsq"),
        F.sum("g").cast("decimal(38,0)").alias("big_n"),
    )
    rows_ = li.agg(
        F.count("*").alias("n_blocks"),
        F.sum(dec(F.col("l")) * F.col("l")).alias("lsq"),
    )
    j = rows_.crossJoin(F.broadcast(tot))
    k, big_n, gsq, lsq = F.col("k"), F.col("big_n"), F.col("gsq"), F.col("lsq")
    denom = k * big_n - lsq
    q = (k - 1) * (k * gsq - big_n * big_n).cast("double") / denom.cast("double")
    return j.select(
        "n_blocks",
        "k",
        (k - 1).cast("long").alias("dof"),
        F.when(denom > 0, F.round(q, 6)).alias("q_stat"),
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
# Bartlett's test for homogeneity of variances (round 5 continuation)
# --------------------------------------------------------------------------
@register(
    "q_bartlett",
    driver=False,  # §2.3 statistical extension (round 5) — pytest oracle
    oracle="""
WITH s AS (
  SELECT event_type AS grp, CAST(round(value * 100) AS BIGINT) AS c
  FROM events WHERE value IS NOT NULL
), g AS (
  SELECT grp,
         CAST(count(*) AS BIGINT)   AS n_g,
         CAST(sum(c) AS BIGINT)     AS s_g,
         CAST(sum(c * c) AS BIGINT) AS ss_g
  FROM s GROUP BY grp
), per AS (
  SELECT n_g,
         CAST(CAST(n_g AS HUGEINT) * ss_g - CAST(s_g AS HUGEINT) * s_g AS DOUBLE)
           / (CAST(n_g AS DOUBLE) * (n_g - 1)) AS var_g
  FROM g WHERE n_g > 1
), ok AS (SELECT * FROM per WHERE var_g > 0),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(n_g) AS BIGINT) AS n,
         sum((n_g - 1) * var_g)   AS pooled_num,
         sum((n_g - 1) * ln(var_g)) AS sum_ln,
         sum(1.0 / (n_g - 1))     AS sum_inv
  FROM ok
)
SELECT n, k, CAST(k - 1 AS BIGINT) AS dof,
       CASE WHEN k > 1 THEN
         round(((n - k) * ln(pooled_num / (n - k)) - sum_ln)
               / (1.0 + (sum_inv - 1.0 / (n - k)) / (3.0 * (k - 1))), 6)
       END AS bartlett_t
FROM agg
""",
)
def q_bartlett(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's test: are the k event types' value variances equal —
    the parametric (normality-assuming) counterpart of q_levene's
    Brown-Forsythe, closing the variance-homogeneity pair every ANOVA
    pre-check runs (SURVEY §2.3 statistical extensions). Per-group
    moments are exact integer cents; each variance numerator
    n·Σc² − (Σc)² widens to 128-bit before ONE double conversion (the
    q_anova lesson), then T = ((N−k)·ln(s_p²) − Σ(n_g−1)·ln(s_g²)) / C
    with the Bartlett correction C = 1 + (Σ1/(n_g−1) − 1/(N−k))/(3(k−1))
    assembles through the identical IEEE tree (ln on identical doubles —
    the q_naive_bayes convention; k=5 terms summed before a 6-dp round).
    Degenerate groups (n=1 or zero variance) are excluded from k, and
    NULL is returned when fewer than two groups survive.

    Scale: one partial/final shuffle on event_type; everything after is
    the k-row statistic assembly."""
    s = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(F.col("event_type").alias("grp"), _cents(F.col("value")).alias("c"))
    )
    g = s.groupBy("grp").agg(
        F.count("*").alias("n_g"),
        F.sum("c").alias("s_g"),
        F.sum(F.col("c") * F.col("c")).alias("ss_g"),
    )

    def hi(c):
        return c.cast(_HI)

    per = g.filter(F.col("n_g") > 1).select(
        "n_g",
        (
            (hi(F.col("n_g")) * hi(F.col("ss_g")) - hi(F.col("s_g")) * hi(F.col("s_g")))
            .cast("double")
            / (F.col("n_g").cast("double") * (F.col("n_g") - 1))
        ).alias("var_g"),
    )
    ok = per.filter(F.col("var_g") > 0)
    agg = ok.agg(
        F.count("*").alias("k"),
        F.sum("n_g").alias("n"),
        F.sum((F.col("n_g") - 1) * F.col("var_g")).alias("pooled_num"),
        F.sum((F.col("n_g") - 1) * F.log(F.col("var_g"))).alias("sum_ln"),
        F.sum(1.0 / (F.col("n_g") - 1)).alias("sum_inv"),
    )
    n, k = F.col("n"), F.col("k")
    t = (
        (n - k) * F.log(F.col("pooled_num") / (n - k)) - F.col("sum_ln")
    ) / (1.0 + (F.col("sum_inv") - 1.0 / (n - k)) / (3.0 * (k - 1)))
    return agg.select(
        "n",
        "k",
        (k - 1).cast("long").alias("dof"),
        F.when(k > 1, F.round(t, 6)).alias("bartlett_t"),
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
    temporal sibling of q_kendall_tau (SURVEY §2.3 statistical
    extensions; THE standard is-this-metric-drifting test in
    environmental and ops monitoring). S = Σ_{i<j} sign(x_j − x_i) is an
    exact integer census over day pairs; the tie-corrected variance
    [n(n−1)(2n+5) − Σt(t−1)(2t+5)]/18 widens the tie term to 128-bit
    (the q_anova lesson), and the continuity-corrected z assembles
    through one shared IEEE tree.

    Scale: the pair join runs on the METADATA-sized daily series (days²
    pairs — the q_kendall_tau adjudication); the data-sized work is one
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
    integer rank position (the q_levene convention — no interpolation),
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
# Partial correlation (controls for the day index, round 5 continuation)
# --------------------------------------------------------------------------
@register(
    "q_partial_correlation",
    driver=False,  # §2.3 statistical extension (round 5) — pytest oracle
    oracle="""
WITH daily AS (
  SELECT CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS z,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x,
         CAST(count(*) AS BIGINT) AS y
  FROM events WHERE value IS NOT NULL
  GROUP BY 1
), m AS (
  SELECT CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
         CAST(sum(z) AS HUGEINT) AS sz,
         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
         CAST(sum(CAST(z AS HUGEINT) * z) AS HUGEINT) AS szz,
         CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
         CAST(sum(CAST(x AS HUGEINT) * z) AS HUGEINT) AS sxz,
         CAST(sum(CAST(y AS HUGEINT) * z) AS HUGEINT) AS syz
  FROM daily
), r AS (
  SELECT CAST(n AS BIGINT) AS n,
         CAST(n * sxy - sx * sy AS DOUBLE)
           / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
              * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS rxy,
         CAST(n * sxz - sx * sz AS DOUBLE)
           / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
              * sqrt(CAST(n * szz - sz * sz AS DOUBLE))) AS rxz,
         CAST(n * syz - sy * sz AS DOUBLE)
           / (sqrt(CAST(n * syy - sy * sy AS DOUBLE))
              * sqrt(CAST(n * szz - sz * sz AS DOUBLE))) AS ryz
  FROM m
  WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
        AND n * szz - sz * sz > 0
)
SELECT n, round(rxy, 6) AS r_xy, round(rxz, 6) AS r_xz, round(ryz, 6) AS r_yz,
       CASE WHEN (1.0 - rxz * rxz) * (1.0 - ryz * ryz) > 0 THEN
         round((rxy - rxz * ryz)
               / sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz)), 6)
       END AS r_xy_given_z
FROM r
""",
)
def q_partial_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial correlation of daily revenue (x) and daily event count (y)
    CONTROLLING for the day index (z): r_xy·z = (r_xy − r_xz·r_yz) /
    √((1−r_xz²)(1−r_yz²)) — the detrended association, answering "do
    revenue and activity co-move beyond their shared time trend?"
    (SURVEY §2.3 statistical extensions; completes the correlation family
    beside Pearson, Spearman, Kendall, cross-correlation). All nine
    moments are exact 128-bit integer sums from ONE aggregation; the
    three first-order correlations and the partial assemble through a
    shared IEEE tree (sqrt correctly rounded), NULL when any variance is
    degenerate or either control correlation is ±1.

    Scale: one data-sized daily rollup, one metadata moment row —
    closed-form like q_multiple_regression (whose residualized-x-on-z
    regression this is equivalent to)."""
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = e.groupBy(
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("z")
    ).agg(
        F.sum(_cents(F.col("value"))).alias("x"),
        F.count("*").alias("y"),
    )

    def hi(c):
        return c.cast(_HI)

    m = daily.agg(
        hi(F.count("*")).alias("n"),
        hi(F.sum("x")).alias("sx"),
        hi(F.sum("y")).alias("sy"),
        hi(F.sum("z")).alias("sz"),
        hi(F.sum(hi(F.col("x")) * F.col("x"))).alias("sxx"),
        hi(F.sum(hi(F.col("y")) * F.col("y"))).alias("syy"),
        hi(F.sum(hi(F.col("z")) * F.col("z"))).alias("szz"),
        hi(F.sum(hi(F.col("x")) * F.col("y"))).alias("sxy"),
        hi(F.sum(hi(F.col("x")) * F.col("z"))).alias("sxz"),
        hi(F.sum(hi(F.col("y")) * F.col("z"))).alias("syz"),
    )
    n = F.col("n")
    vx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = n * F.col("syy") - F.col("sy") * F.col("sy")
    vz = n * F.col("szz") - F.col("sz") * F.col("sz")

    def corr(cov, va, vb):
        return cov.cast("double") / (
            F.sqrt(va.cast("double")) * F.sqrt(vb.cast("double"))
        )

    r = m.filter((vx > 0) & (vy > 0) & (vz > 0)).select(
        n.cast("long").alias("n"),
        corr(n * F.col("sxy") - F.col("sx") * F.col("sy"), vx, vy).alias("rxy"),
        corr(n * F.col("sxz") - F.col("sx") * F.col("sz"), vx, vz).alias("rxz"),
        corr(n * F.col("syz") - F.col("sy") * F.col("sz"), vy, vz).alias("ryz"),
    )
    rxy, rxz, ryz = F.col("rxy"), F.col("rxz"), F.col("ryz")
    den = (1.0 - rxz * rxz) * (1.0 - ryz * ryz)
    return r.select(
        "n",
        F.round(rxy, 6).alias("r_xy"),
        F.round(rxz, 6).alias("r_xz"),
        F.round(ryz, 6).alias("r_yz"),
        F.when(den > 0, F.round((rxy - rxz * ryz) / F.sqrt(den), 6)).alias(
            "r_xy_given_z"
        ),
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
    moments, each n·Σx² − (Σx)² widened to 128-bit (the q_anova lesson).
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
    q_kendall_tau's tau-b), the right choice for coarse ordered
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
# Intraclass correlation ICC(1,1) (round 5 continuation)
# --------------------------------------------------------------------------
@register(
    "q_icc",
    driver=False,  # §2.3 statistical extension (round 5) — pytest oracle
    oracle="""
WITH s AS (
  SELECT user_id AS g, CAST(round(value * 100) AS BIGINT) AS c
  FROM events WHERE value IS NOT NULL
), grp AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n_g, CAST(sum(c) AS BIGINT) AS s_g
  FROM s GROUP BY g HAVING count(*) >= 2
), kept AS (SELECT s.* FROM s JOIN grp USING (g)),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(c) AS HUGEINT) AS st,
         CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS sst
  FROM kept
), gq AS (
  -- quotient/remainder split (the q_anova discipline): the integer parts
  -- sum exactly; the k remainder doubles are each < 1, so engine addition
  -- order cannot move the 6-dp round
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum((CAST(s_g AS HUGEINT) * s_g) // n_g) AS HUGEINT) AS gq_int,
         sum(CAST((CAST(s_g AS HUGEINT) * s_g) % n_g AS DOUBLE)
             / CAST(n_g AS DOUBLE)) AS gq_fr,
         CAST(sum(CAST(n_g AS HUGEINT) * n_g) AS HUGEINT) AS sum_n2
  FROM grp
), ms AS (
  SELECT tot.n, gq.k,
         (CAST(gq.gq_int AS DOUBLE) + gq.gq_fr
          - CAST(CAST(tot.st AS HUGEINT) * tot.st AS DOUBLE) / tot.n)
           / (gq.k - 1) AS msb,
         (CAST(tot.sst AS DOUBLE) - (CAST(gq.gq_int AS DOUBLE) + gq.gq_fr))
           / (tot.n - gq.k) AS msw,
         (tot.n - CAST(gq.sum_n2 AS DOUBLE) / tot.n) / (gq.k - 1) AS k0
  FROM tot, gq
  WHERE gq.k > 1 AND tot.n > gq.k
)
SELECT n, k, round(k0, 6) AS k0, round(msb, 6) AS ms_between,
       round(msw, 6) AS ms_within,
       CASE WHEN msb + (k0 - 1) * msw > 0 THEN
         round((msb - msw) / (msb + (k0 - 1) * msw), 6)
       END AS icc1
FROM ms
""",
)
def q_icc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intraclass correlation ICC(1,1), one-way random effects: how much
    of event-value variance is BETWEEN users vs within them — the
    repeatability / rater-agreement statistic (and the design-effect
    input for clustered experiment power; SURVEY §2.3 statistical
    extensions, reusing q_anova's MS machinery with users as the random
    factor). Groups need ≥ 2 measurements; unequal group sizes use the
    standard k₀ = (N − Σn²/N)/(k−1) correction. Between/within mean
    squares assemble from exact integer cents moments (per-group squared
    sums widen to 128-bit before ONE double division each — the same
    quotient discipline as q_anova), and ICC = (MSB − MSW)/(MSB +
    (k₀−1)·MSW) is one shared IEEE tree.

    Scale: one user-keyed partial/final agg for group moments, one
    global moment row — no sorts, no windows; user count only affects
    the k-row group table (itself reduced to one row)."""
    s = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(F.col("user_id").alias("g"), _cents(F.col("value")).alias("c"))
    )
    grp = (
        s.groupBy("g")
        .agg(F.count("*").alias("n_g"), F.sum("c").alias("s_g"))
        .filter(F.col("n_g") >= 2)
    )
    kept = s.join(grp.select("g"), "g", "left_semi")

    def hi(c):
        return c.cast(_HI)

    tot = kept.agg(
        F.count("*").alias("n"),
        hi(F.sum("c")).alias("st"),
        hi(F.sum(hi(F.col("c")) * F.col("c"))).alias("sst"),
    )
    # quotient/remainder split (the q_anova discipline): exact integer parts
    # + k sub-1 remainder doubles, so addition order cannot move the round
    gq = grp.agg(
        F.count("*").alias("k"),
        hi(
            F.sum(
                F.expr("(cast(s_g as decimal(38,0)) * s_g) div n_g")
            )
        ).alias("gq_int"),
        F.sum(
            F.expr(
                "cast((cast(s_g as decimal(38,0)) * s_g) % n_g as double)"
            )
            / F.col("n_g").cast("double")
        ).alias("gq_fr"),
        hi(F.sum(hi(F.col("n_g")) * F.col("n_g"))).alias("sum_n2"),
    )
    j = tot.crossJoin(F.broadcast(gq))
    n, k = F.col("n"), F.col("k")
    sum_gq = F.col("gq_int").cast("double") + F.col("gq_fr")
    msb = (
        sum_gq
        - (F.col("st") * F.col("st")).cast("double") / n
    ) / (k - 1)
    msw = (F.col("sst").cast("double") - sum_gq) / (n - k)
    k0 = (n - F.col("sum_n2").cast("double") / n) / (k - 1)
    ms = j.filter((k > 1) & (n > k)).select(
        "n", "k",
        k0.alias("k0_"), msb.alias("msb_"), msw.alias("msw_"),
    )
    icc = (F.col("msb_") - F.col("msw_")) / (
        F.col("msb_") + (F.col("k0_") - 1) * F.col("msw_")
    )
    return ms.select(
        "n",
        "k",
        F.round(F.col("k0_"), 6).alias("k0"),
        F.round(F.col("msb_"), 6).alias("ms_between"),
        F.round(F.col("msw_"), 6).alias("ms_within"),
        F.when(
            F.col("msb_") + (F.col("k0_") - 1) * F.col("msw_") > 0,
            F.round(icc, 6),
        ).alias("icc1"),
    )


# --------------------------------------------------------------------------
# Sequential probability ratio test (round 5 continuation)
# --------------------------------------------------------------------------
@register(
    "q_sprt",
    driver=False,  # §2.3 statistical extension (round 5) — pytest oracle
    oracle="""
WITH ordered AS (
  SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
         row_number() OVER (ORDER BY ts, event_id) AS t
  FROM events
), llr AS (
  SELECT t,
         CAST(sum(y) OVER (ORDER BY t) AS BIGINT) AS y_cum,
         CAST(t AS BIGINT) AS n_seen
  FROM ordered
), scored AS (
  SELECT t,
         y_cum * ln(2.0) + (n_seen - y_cum) * ln(0.8 / 0.9) AS s
  FROM llr
), bounds AS (
  SELECT ln(0.05 / 0.95) AS lo, ln(0.95 / 0.05) AS hi
), crossings AS (
  SELECT min(CASE WHEN s >= hi THEN t END) AS first_reject,
         min(CASE WHEN s <= lo THEN t END) AS first_accept,
         CAST(max(t) AS BIGINT) AS n
  FROM scored, bounds
)
SELECT n, first_accept, first_reject,
       CASE
         WHEN first_accept IS NOT NULL
              AND (first_reject IS NULL OR first_accept < first_reject)
           THEN 'accept_h0'
         WHEN first_reject IS NOT NULL
              AND (first_accept IS NULL OR first_reject <= first_accept)
           THEN 'reject_h0'
         ELSE 'continue'
       END AS decision
FROM crossings
""",
)
def q_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's sequential probability ratio test: stream events in (ts,
    event_id) order and test H₀: purchase rate = 0.10 against H₁: rate
    = 0.20 with α = β = 0.05, stopping at the FIRST log-likelihood-ratio
    boundary crossing — the always-valid sequential monitor that replaces
    fixed-horizon q_ab_test peeking (SURVEY §2.3 statistical extensions).
    The LLR after t events is y·ln(p₁/p₀) + (t−y)·ln((1−p₁)/(1−p₀)) with
    y the cumulative purchase count — exact integers times two shared
    libm constants, so every partial sum is the identical IEEE product
    tree in both engines and the crossing indexes are engine-exact.

    Scale: one global-order cumulative window (at 100 TB: range-partition
    by time + per-partition offsets, the distributed-ranking pattern);
    the crossing scan is a single min-aggregate over the same pass. The
    sequential decision is also the natural streaming shape —
    applyInPandasWithState carrying (t, y) per experiment key."""
    ordered = table(spark, sf_dir, "events").select(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        F.row_number().over(Window.orderBy("ts", "event_id")).alias("t"),
    )
    w = Window.orderBy("t")
    llr = ordered.select(
        "t",
        F.sum("y").over(w).alias("y_cum"),
        F.col("t").cast("long").alias("n_seen"),
    )
    a = math.log(2.0)
    b = math.log(0.8 / 0.9)
    lo = math.log(0.05 / 0.95)
    hi_b = math.log(0.95 / 0.05)
    scored = llr.select(
        "t", (F.col("y_cum") * a + (F.col("n_seen") - F.col("y_cum")) * b).alias("s")
    )
    crossings = scored.agg(
        F.min(F.when(F.col("s") >= hi_b, F.col("t"))).alias("first_reject"),
        F.min(F.when(F.col("s") <= lo, F.col("t"))).alias("first_accept"),
        F.max("t").cast("long").alias("n"),
    )
    fa, fr = F.col("first_accept"), F.col("first_reject")
    return crossings.select(
        "n",
        "first_accept",
        "first_reject",
        F.when(fa.isNotNull() & (fr.isNull() | (fa < fr)), "accept_h0")
        .when(fr.isNotNull() & (fa.isNull() | (fr <= fa)), "reject_h0")
        .otherwise("continue")
        .alias("decision"),
    )


# --------------------------------------------------------------------------
# Mood's median test (round 5 continuation)
# --------------------------------------------------------------------------
@register(
    "q_mood_median",
    driver=False,  # §2.3 statistical extension (round 5) — pytest oracle
    oracle="""
WITH s AS (
  SELECT event_type AS grp, CAST(round(value * 100) AS BIGINT) AS c
  FROM events WHERE value IS NOT NULL
), med AS (
  SELECT c AS m FROM (
    SELECT c, row_number() OVER (ORDER BY c) AS rn, count(*) OVER () AS n
    FROM s
  ) WHERE rn = (n + 1) // 2
), cls AS (
  SELECT grp,
         CAST(sum(CASE WHEN c > m THEN 1 ELSE 0 END) AS BIGINT) AS above,
         CAST(sum(CASE WHEN c < m THEN 1 ELSE 0 END) AS BIGINT) AS below
  FROM s, med GROUP BY grp
), tot AS (
  SELECT CAST(sum(above) AS BIGINT) AS ta,
         CAST(sum(below) AS BIGINT) AS tb,
         CAST(sum(above + below) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS k
  FROM cls
)
SELECT max(n) AS n, max(k) AS k, CAST(max(k) - 1 AS BIGINT) AS dof,
       round(sum(
         CASE WHEN ta > 0 THEN
           (n * above - (above + below) * ta)
             * CAST(n * above - (above + below) * ta AS DOUBLE)
             / (CAST(n AS DOUBLE) * (above + below) * ta) ELSE 0.0 END
         + CASE WHEN tb > 0 THEN
           (n * below - (above + below) * tb)
             * CAST(n * below - (above + below) * tb AS DOUBLE)
             / (CAST(n AS DOUBLE) * (above + below) * tb) ELSE 0.0 END), 6)
         AS chi2
FROM cls, tot
""",
)
def q_mood_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test: do the k event types share a common median —
    the coarsest, most outlier-proof k-sample location test (it reduces
    each observation to above/below the GRAND median and runs the
    χ² independence machinery; SURVEY §2.3 statistical extensions,
    completing the location-test ladder under Kruskal-Wallis and ANOVA).
    The grand lower median is picked by integer rank position (the
    q_levene convention), exactly-median values are dropped (textbook),
    and the χ² over the k×2 above/below table reuses q_chi_square's
    exact-integer-numerator IEEE tree.

    Scale: one global rank for the median (at 100 TB: a fixed-point
    quantile sketch — the median itself is the only global object), one
    event_type groupBy, then a k-row assembly."""
    s = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(F.col("event_type").alias("grp"), _cents(F.col("value")).alias("c"))
    )
    r = s.select(
        "c",
        F.row_number().over(Window.orderBy("c")).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    med = r.filter(F.col("rn") == F.expr("(n + 1) div 2")).select(
        F.col("c").alias("m")
    )
    cls = (
        s.crossJoin(F.broadcast(med))
        .groupBy("grp")
        .agg(
            F.sum(F.when(F.col("c") > F.col("m"), 1).otherwise(0)).alias("above"),
            F.sum(F.when(F.col("c") < F.col("m"), 1).otherwise(0)).alias("below"),
        )
    )
    tot = cls.agg(
        F.sum("above").alias("ta"),
        F.sum("below").alias("tb"),
        F.sum(F.col("above") + F.col("below")).alias("n"),
        F.count("*").alias("k"),
    )
    cells = cls.crossJoin(F.broadcast(tot))
    n, ta, tb = F.col("n"), F.col("ta"), F.col("tb")
    ab = F.col("above") + F.col("below")

    def term(obs, ct):
        num = n * obs - ab * ct
        return F.when(
            ct > 0,
            num * num.cast("double") / (n.cast("double") * ab * ct),
        ).otherwise(F.lit(0.0))

    return cells.agg(
        F.max("n").alias("n"),
        F.max("k").alias("k"),
        (F.max("k") - 1).cast("long").alias("dof"),
        F.round(
            F.sum(term(F.col("above"), ta) + term(F.col("below"), tb)), 6
        ).alias("chi2"),
    )


# --------------------------------------------------------------------------
# Cochran-Armitage trend test (round 5 continuation)
# --------------------------------------------------------------------------
@register(
    "q_cochran_armitage",
    driver=False,  # §2.3 statistical extension (round 5) — pytest oracle
    oracle="""
WITH b AS (
  SELECT CAST(CASE WHEN value < 50 THEN 0 WHEN value < 150 THEN 1
              WHEN value < 300 THEN 2 ELSE 3 END AS BIGINT) AS dose,
         CAST(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS BIGINT) AS y
  FROM events WHERE value IS NOT NULL
), g AS (
  SELECT dose, CAST(count(*) AS BIGINT) AS n_i, CAST(sum(y) AS BIGINT) AS r_i
  FROM b GROUP BY dose
), tot AS (
  SELECT CAST(sum(n_i) AS HUGEINT) AS n, CAST(sum(r_i) AS HUGEINT) AS r,
         CAST(sum(CAST(n_i AS HUGEINT) * dose) AS HUGEINT) AS snd,
         CAST(sum(CAST(n_i AS HUGEINT) * dose * dose) AS HUGEINT) AS sndd,
         CAST(sum(CAST(r_i AS HUGEINT) * dose) AS HUGEINT) AS srd
  FROM g
), v AS (
  SELECT CAST(n AS BIGINT) AS n_obs,
         CAST(n * srd - r * snd AS HUGEINT) AS tnum,
         CAST(r AS HUGEINT) AS r, n, snd, sndd
  FROM tot
)
SELECT n_obs, CAST(tnum AS BIGINT) AS t_num,
       CASE WHEN r > 0 AND r < n AND n * sndd - snd * snd > 0 THEN
         round(CAST(tnum AS DOUBLE)
               / sqrt(CAST(r * (n - r) AS DOUBLE)
                      * CAST(n * sndd - snd * snd AS DOUBLE) / n), 6)
       END AS z_stat
FROM v
""",
)
def q_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage trend test: does purchase propensity rise
    MONOTONICALLY across ordered value bands (dose levels 0..3) — the
    ordered-alternative refinement of q_chi_square, the standard
    dose-response / tiering analysis (SURVEY §2.3 statistical
    extensions). With scores d_i, the statistic is T = Σr_i·d_i −
    R·Σn_i·d_i/N, z = T/√(R(N−R)/N · (Σn_i·d_i² − (Σn_i·d_i)²/N) / N)
    — every census (N, R, Σnd, Σnd², Σrd) is an exact 128-bit integer
    from ONE groupBy, T's numerator is computed as the exact integer
    N·Σrd − R·Σnd, and z is one shared IEEE tree. NULL when responses
    are degenerate (all or none) or the score variance is 0.

    Scale: one partial/final agg on the 4-row dose table; nothing else
    touches data size."""
    b = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            F.when(F.col("value") < 50, 0)
            .when(F.col("value") < 150, 1)
            .when(F.col("value") < 300, 2)
            .otherwise(3)
            .cast("long")
            .alias("dose"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .cast("long")
            .alias("y"),
        )
    )
    g = b.groupBy("dose").agg(
        F.count("*").alias("n_i"), F.sum("y").alias("r_i")
    )

    def hi(c):
        return c.cast(_HI)

    tot = g.agg(
        hi(F.sum("n_i")).alias("n"),
        hi(F.sum("r_i")).alias("r"),
        hi(F.sum(hi(F.col("n_i")) * F.col("dose"))).alias("snd"),
        hi(F.sum(hi(F.col("n_i")) * F.col("dose") * F.col("dose"))).alias("sndd"),
        hi(F.sum(hi(F.col("r_i")) * F.col("dose"))).alias("srd"),
    )
    n, r = F.col("n"), F.col("r")
    tnum = n * F.col("srd") - r * F.col("snd")
    scorevar = n * F.col("sndd") - F.col("snd") * F.col("snd")
    z = tnum.cast("double") / F.sqrt(
        (r * (n - r)).cast("double") * scorevar.cast("double") / n
    )
    return tot.select(
        n.cast("long").alias("n_obs"),
        tnum.cast("long").alias("t_num"),
        F.when((r > 0) & (r < n) & (scorevar > 0), F.round(z, 6)).alias("z_stat"),
    )


# --------------------------------------------------------------------------
# Tukey HSD post-hoc pairwise comparisons (round 5 continuation)
# --------------------------------------------------------------------------
@register(
    "q_tukey_hsd",
    driver=False,  # §2.3 statistical extension (round 5) — pytest oracle
    oracle="""
WITH s AS (
  SELECT event_type AS grp, CAST(round(value * 100) AS BIGINT) AS c
  FROM events WHERE value IS NOT NULL
), g AS (
  SELECT grp,
         CAST(count(*) AS BIGINT) AS n_g,
         CAST(sum(c) AS BIGINT) AS s_g,
         CAST(sum(c * c) AS BIGINT) AS ss_g
  FROM s GROUP BY grp
), msw AS (
  -- pooled within-group variance via the quotient/remainder split
  SELECT CAST(sum(n_g) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k,
         (CAST(sum(ss_g) AS DOUBLE)
          - (CAST(sum((CAST(s_g AS HUGEINT) * s_g) // n_g) AS DOUBLE)
             + sum(CAST((CAST(s_g AS HUGEINT) * s_g) % n_g AS DOUBLE)
                   / CAST(n_g AS DOUBLE))))
           / (sum(n_g) - count(*)) AS ms_within
  FROM g
)
SELECT a.grp AS grp_a, b.grp AS grp_b,
       round((a.s_g / CAST(a.n_g AS DOUBLE)
              - b.s_g / CAST(b.n_g AS DOUBLE)) / 100.0, 6) AS mean_diff,
       CASE WHEN msw.ms_within > 0 THEN
         round((a.s_g / CAST(a.n_g AS DOUBLE) - b.s_g / CAST(b.n_g AS DOUBLE))
               / sqrt(msw.ms_within / 2.0
                      * (1.0 / a.n_g + 1.0 / b.n_g)), 6)
       END AS q_stat
FROM g a JOIN g b ON a.grp < b.grp, msw
""",
)
def q_tukey_hsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey HSD post-hoc comparisons: after q_anova rejects equal means,
    WHICH pairs of event types differ — the studentized-range q for every
    unordered pair, with the Tukey-Kramer unequal-n correction
    q = (m_a − m_b)/√(MSW/2·(1/n_a + 1/n_b)) (SURVEY §2.3 statistical
    extensions; the pairwise readout every ANOVA report ends with).
    Group moments are exact integer cents; the pooled MSW takes the
    quotient/remainder split (the q_anova/q_icc discipline) so k group
    remainders cannot move the 6-dp round; each pair's mean difference
    and q assemble through one shared IEEE tree. Pairs are oriented
    grp_a < grp_b so each comparison appears once.

    Scale: one event_type groupBy; the pair join is k²/2 metadata rows
    against a 1-row MSW — nothing else touches data size."""
    s = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(F.col("event_type").alias("grp"), _cents(F.col("value")).alias("c"))
    )
    g = s.groupBy("grp").agg(
        F.count("*").alias("n_g"),
        F.sum("c").alias("s_g"),
        F.sum(F.col("c") * F.col("c")).alias("ss_g"),
    )
    msw = g.agg(
        F.sum("n_g").alias("n"),
        F.count("*").alias("k"),
        (
            (
                F.sum("ss_g").cast("double")
                - (
                    F.sum(
                        F.expr("(cast(s_g as decimal(38,0)) * s_g) div n_g")
                    ).cast("double")
                    + F.sum(
                        F.expr(
                            "cast((cast(s_g as decimal(38,0)) * s_g) % n_g as double)"
                        )
                        / F.col("n_g").cast("double")
                    )
                )
            )
            / (F.sum("n_g") - F.count("*"))
        ).alias("ms_within"),
    )
    a, b = g.alias("a"), g.alias("b")
    pairs = a.join(b, F.col("a.grp") < F.col("b.grp")).crossJoin(F.broadcast(msw))
    mean_a = F.col("a.s_g") / F.col("a.n_g").cast("double")
    mean_b = F.col("b.s_g") / F.col("b.n_g").cast("double")
    qs = (mean_a - mean_b) / F.sqrt(
        F.col("ms_within") / 2.0 * (1.0 / F.col("a.n_g") + 1.0 / F.col("b.n_g"))
    )
    return pairs.select(
        F.col("a.grp").alias("grp_a"),
        F.col("b.grp").alias("grp_b"),
        F.round((mean_a - mean_b) / 100.0, 6).alias("mean_diff"),
        F.when(F.col("ms_within") > 0, F.round(qs, 6)).alias("q_stat"),
    )


# --------------------------------------------------------------------------
# Ljung-Box portmanteau autocorrelation test (round 5 continuation)
# --------------------------------------------------------------------------
@register(
    "q_ljung_box",
    driver=False,  # §2.3 statistical extension (round 5) — pytest oracle
    oracle="""
WITH daily AS (
  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
  FROM events WHERE value IS NOT NULL
  GROUP BY 1
), idx AS (
  SELECT y, row_number() OVER (ORDER BY d) AS t,
         CAST(count(*) OVER () AS BIGINT) AS n,
         CAST(sum(y) OVER () AS BIGINT) AS s,
         CAST(sum(CAST(y AS HUGEINT) * y) OVER () AS HUGEINT) AS ss
  FROM daily
), lags AS (SELECT unnest(range(1, 9)) AS k),
pairs AS (
  SELECT l.k, a.n, a.s, a.ss,
         CAST(count(*) AS BIGINT) AS m,
         CAST(sum(CAST(a.y AS HUGEINT) * b.y) AS HUGEINT) AS sxy,
         CAST(sum(a.y) AS BIGINT) AS sh,
         CAST(sum(b.y) AS BIGINT) AS st
  FROM idx a JOIN lags l ON a.t > l.k
  JOIN idx b ON b.t = a.t - l.k
  GROUP BY l.k, a.n, a.s, a.ss
), rk AS (
  SELECT k, n,
         (CAST(sxy AS DOUBLE)
          - (CAST(s AS DOUBLE) / n) * (sh + st)
          + m * (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))
           / (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) AS r
  FROM pairs
  WHERE CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n > 0
)
SELECT max(n) AS n, CAST(count(*) AS BIGINT) AS n_lags,
       round(max(n) * (max(n) + 2.0) * sum(r * r / (n - k)), 6) AS lb_q
FROM rk
""",
)
def q_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test: is the daily revenue series white
    noise, jointly across lags 1..8 — Q = n(n+2)·Σ r_k²/(n−k), the
    standard residual-diagnostics statistic after any forecast fit
    (SURVEY §2.3 statistical extensions; the JOINT version of q_acf's
    per-lag readouts). Each autocorrelation uses the time-series
    definition (fixed global mean, total-variance denominator — not
    pairwise Pearson): its numerator expands to
    Σy_t·y_{t−k} − ȳ(S_head+S_tail) + m·ȳ² with every sum an exact
    64/128-bit integer, so r_k is one shared IEEE tree and Q sums 8
    such terms before the 6-dp round.

    Scale: one data-sized daily rollup; the lag joins run on the
    metadata-sized day series × 8 lags (the q_acf adjudication)."""
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
    lags = spark.range(1, 9).select(F.col("id").alias("k"))
    a = idx.alias("a")
    b = idx.select(F.col("t").alias("bt"), F.col("y").alias("by")).alias("b")
    pairs = (
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
    rk = pairs.filter(denom > 0).select("k", "n", r.alias("r"))
    return rk.agg(
        F.max("n").alias("n"),
        F.count("*").alias("n_lags"),
        F.round(
            F.max("n") * (F.max("n") + 2.0)
            * F.sum(F.col("r") * F.col("r") / (F.col("n") - F.col("k"))),
            6,
        ).alias("lb_q"),
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
    family). The autocorrelations r₁..r₄ use the same exact-integer
    fixed-mean censuses as q_ljung_box, and because Durbin-Levinson at
    fixed depth is a rational function of the r_k, both engines evaluate
    the IDENTICAL expression tree — no iteration, hash-checkable.
    Guarded NULL where a recursion denominator degenerates.

    Scale: identical to q_ljung_box — one daily rollup, metadata lag
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


# --------------------------------------------------------------------------
# Overdispersion census (round 7, wave 4)
# --------------------------------------------------------------------------
@register(
    "q_dispersion_index",
    driver=False,  # §2.11 data-quality stats beside q_chi_square
    oracle="""
WITH daily AS (
  SELECT event_type,
         CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
), mom AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(c) AS BIGINT) AS s,
         CAST(sum(CAST(c AS HUGEINT) * c) AS BIGINT) AS ss
  FROM daily GROUP BY event_type
)
SELECT event_type, n, s,
       round(s * 1.0 / n, 6) AS mean_daily,
       round((ss - CAST((CAST(s AS HUGEINT) * s) // n AS BIGINT) * 1.0)
             / (n - 1), 6) AS var_daily,
       round(((ss - CAST((CAST(s AS HUGEINT) * s) // n AS BIGINT) * 1.0)
              / (n - 1)) / (s * 1.0 / n), 6) AS dispersion,
       CAST(CASE WHEN CAST(ss - CAST((CAST(s AS HUGEINT) * s) // n AS BIGINT)
                           AS HUGEINT) * n * 100
                      > 150 * CAST(s AS HUGEINT) * (n - 1)
                 THEN 1 ELSE 0 END AS BIGINT) AS overdispersed
FROM mom WHERE n > 1
""",
)
def q_dispersion_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dispersion index (variance/mean of daily counts) per event_type —
    the Poisson-ness check for count data: ≈1 for a Poisson arrival
    process, ≫1 (overdispersed) when traffic is bursty/contagious, the
    precondition check before any Poisson-model alert threshold is
    trusted (SURVEY §2.11 data-quality stats beside q_chi_square /
    q_interarrival). Moments are exact integers with the q_anova quotient
    split; the OVERDISPERSED FLAG (dispersion > 1.5) is decided by the
    cross-multiplied 128-bit integer comparison (ss−s²divn)·n·100 >
    150·s·(n−1) — a boundary fixture can't flip it on a double ulp
    (auto-memory boolean-flag rule).

    Scale: one (type, day) rollup + a k-row moment census — partial+final
    all the way."""
    hi = "decimal(38,0)"
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count("*").cast("long").alias("c"))
    mom = daily.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("c").cast("long").alias("s"),
        F.sum(F.col("c").cast(hi) * F.col("c")).cast("long").alias("ss"),
    )
    q_term = F.expr("cast((cast(s as decimal(38,0)) * s) div n as bigint)")
    var_d = (F.col("ss") - q_term * 1.0) / (F.col("n") - 1)
    flag_lhs = F.expr(
        "(ss - cast((cast(s as decimal(38,0)) * s) div n as bigint))"
    ).cast(hi) * F.col("n") * 100
    flag_rhs = F.lit(150).cast(hi) * F.col("s") * (F.col("n") - 1)
    return mom.filter(F.col("n") > 1).select(
        "event_type",
        "n",
        "s",
        F.round(F.col("s") * 1.0 / F.col("n"), 6).alias("mean_daily"),
        F.round(var_d, 6).alias("var_daily"),
        F.round(var_d / (F.col("s") * 1.0 / F.col("n")), 6).alias("dispersion"),
        F.when(flag_lhs > flag_rhs, 1).otherwise(0).cast("long").alias(
            "overdispersed"
        ),
    )
