"""Event-time window queries in batch mode (SURVEY.md §2.8) on ``events``.

The oracle expresses each Spark windowing primitive in portable SQL:
tumbling/sliding via epoch-aligned truncation, sessions via the classic
gap-island construction (lag + running flag sum) — which must mirror Spark's
``session_window`` semantics exactly (new session iff diff is STRICTLY
GREATER than gap — an exactly-gap event merges; session end = last_ts + gap).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import event_time as ET
from ..session import table
from ._registry import register


@register(
    "q_tumbling_window",
    driver=False,  # kept: timed by perfbench, bench.py and PLAN_SHA_BASELINE
    oracle="""
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP)                     AS window_start,
       CAST(date_trunc('hour', ts) AS TIMESTAMP) + INTERVAL 1 HOUR   AS window_end,
       event_type,
       count(*)            AS n,
       round(sum(value),2) AS sum_value
FROM events
GROUP BY 1, 2, 3
""",
)
def q_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FixedWindows(1h) + CombinePerKey(count,sum) per event_type."""
    return ET.tumbling(
        table(spark, sf_dir, "events"),
        "ts",
        "1 hour",
        keys=["event_type"],
        n=F.count("*"),
        sum_value=F.round(F.sum("value"), 2),
    )


#: gap-island sessions (gap 30 min, strict >): the oracle of q_session_window
#: and of its streaming twin q_stream_session
_SESSION_SQL = """
WITH flagged AS (
  SELECT user_id, ts, value, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) > 1800.0
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), islands AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
)
SELECT min(ts)                          AS session_start,
       max(ts) + INTERVAL 30 MINUTE     AS session_end,
       user_id,
       count(*)                         AS n,
       round(sum(value), 2)             AS sum_value
FROM islands
GROUP BY user_id, sid
"""


@register(
    "q_session_window",
    oracle=_SESSION_SQL,
)
def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessions(gap=30min) per user via native ``session_window``. Oracle is
    the gap-island SQL with *strict >* new-session test (an event exactly
    `gap` after the previous one MERGES — verified behavior) and
    end=last+gap — boundary case unit-tested in tests/test_operators.py."""
    return ET.session(
        table(spark, sf_dir, "events"),
        "ts",
        "30 minutes",
        keys=["user_id"],
        n=F.count("*"),
        sum_value=F.round(F.sum("value"), 2),
    )


@register(
    "q_custom_window",
    driver=False,  # rotated off r8: §2.8 keeps 4 driver slots
    oracle="""
SELECT CAST(date_trunc('month', ts) AS TIMESTAMP) AS window_start,
       event_type,
       count(*)             AS n,
       round(avg(value), 6) AS avg_value
FROM events
GROUP BY 1, 2
""",
)
def q_custom_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom WindowFn: calendar-month windows (not expressible as a fixed
    duration) as a deterministic ts→window expression + combine."""
    return ET.custom_window(
        table(spark, sf_dir, "events"),
        F.date_trunc("month", F.col("ts")),
        keys=["event_type"],
        n=F.count("*"),
        avg_value=F.round(F.avg("value"), 6),
    )


@register(
    "q_windows_fixed_sliding",
    oracle="""
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP)                     AS window_start,
       CAST(date_trunc('hour', ts) AS TIMESTAMP) + INTERVAL 1 HOUR   AS window_end,
       'tumbling'           AS tag,
       event_type           AS grp,
       count(*)             AS n,
       round(sum(value), 2) AS sum_value
FROM events
GROUP BY 1, 2, 4
UNION ALL
SELECT ws, ws + INTERVAL 2 HOUR, 'sliding', '', count(*), round(sum(value), 2)
FROM (
  SELECT unnest([CAST(date_trunc('hour', ts) AS TIMESTAMP),
                 CAST(date_trunc('hour', ts) AS TIMESTAMP) - INTERVAL 1 HOUR]) AS ws,
         value
  FROM events
)
GROUP BY ws
""",
)
def q_windows_fixed_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FixedWindows(1h) and SlidingWindows(2h, 1h) in one tagged driver row
    (SURVEY §2.8; q_tumbling_window keeps a benchmarked tumbling-only form).
    'tumbling' arm keys by event_type; 'sliding' arm is unkeyed (grp='') with
    every event in exactly 2 epoch-aligned windows. Each arm is one windowed
    partial+final agg; Spark expands sliding assignment at map time (the same
    ×2 amplification Beam pays)."""
    e = table(spark, sf_dir, "events")
    tumbling = ET.tumbling(
        e, "ts", "1 hour", keys=["event_type"],
        n=F.count("*"), sum_value=F.round(F.sum("value"), 2),
    ).select(
        "window_start", "window_end", F.lit("tumbling").alias("tag"),
        F.col("event_type").alias("grp"), "n", "sum_value",
    )
    sliding = ET.sliding(
        e, "ts", "2 hours", "1 hour",
        n=F.count("*"), sum_value=F.round(F.sum("value"), 2),
    ).select(
        "window_start", "window_end", F.lit("sliding").alias("tag"),
        F.lit("").alias("grp"), "n", "sum_value",
    )
    return tumbling.unionByName(sliding)


@register(
    "q_resample_ffill",
    driver=False,  # extra time-series op beyond SURVEY §2 — pytest-only
    oracle="""
WITH obs AS (
  SELECT user_id, ts, max(value) AS v FROM events GROUP BY user_id, ts
), b AS (
  SELECT user_id, min(ts) AS t0, max(ts) AS t1 FROM events GROUP BY user_id
), grid AS (
  SELECT user_id, unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS grid_ts
  FROM b
)
SELECT g.user_id, g.grid_ts, o.v AS ffill_value
FROM grid g ASOF LEFT JOIN obs o
  ON g.user_id = o.user_id AND g.grid_ts >= o.ts
""",
)
def q_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regular-grid resampling with forward fill (hypertable
    gapfill+locf): hourly grid per user over events, latest observation
    carried forward via the single-shuffle as-of join
    (operators.event_time.resample_ffill)."""
    e = table(spark, sf_dir, "events")
    out = ET.resample_ffill(e, "ts", "value", ["user_id"], step="1 hour")
    return out.select("user_id", "grid_ts", "ffill_value")


@register(
    "q_resample_linterp",
    driver=False,  # extra time-series op beyond SURVEY §2 — pytest-only
    oracle="""
WITH obs AS (
  SELECT user_id, ts, CAST(max(value) AS DOUBLE) AS v FROM events GROUP BY user_id, ts
), b AS (
  SELECT user_id, min(ts) AS t0, max(ts) AS t1 FROM events GROUP BY user_id
), grid AS (
  SELECT user_id, unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS t
  FROM b
), u AS (
  SELECT user_id, t, CAST(NULL AS DOUBLE) AS v, 1 AS is_grid FROM grid
  UNION ALL
  SELECT user_id, ts, v, 0 FROM obs
), w AS (
  SELECT user_id, t, is_grid, epoch(t) AS et,
    last_value(v IGNORE NULLS) OVER wb AS pv,
    last_value(CASE WHEN v IS NOT NULL THEN epoch(t) END IGNORE NULLS) OVER wb AS pt,
    first_value(v IGNORE NULLS) OVER wf AS nv,
    first_value(CASE WHEN v IS NOT NULL THEN epoch(t) END IGNORE NULLS) OVER wf AS nt
  FROM u
  WINDOW wb AS (PARTITION BY user_id ORDER BY t, is_grid
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY user_id ORDER BY t, is_grid
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, t AS grid_ts,
       round(CASE WHEN pv IS NULL THEN nv
                  WHEN nv IS NULL THEN pv
                  WHEN nt = pt THEN pv
                  ELSE pv + (nv - pv) * (et - pt) / (nt - pt) END, 6) AS interp_value
FROM w
WHERE is_grid = 1
""",
)
def q_resample_linterp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation resampling (gapfill interpolate): hourly grid
    per user, bracketing observations blended by time fraction — identical
    IEEE expression order in both engines, rounded at 6."""
    e = table(spark, sf_dir, "events")
    return ET.resample_linterp(e, "ts", "value", ["user_id"], step="1 hour")


@register(
    "q_ohlc",
    driver=False,  # extra time-series op beyond SURVEY §2 — pytest-only
    oracle="""
SELECT user_id,
       CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket,
       arg_min(value, ts)    AS open,
       round(max(value), 2)  AS high,
       round(min(value), 2)  AS low,
       arg_max(value, ts)    AS close,
       count(*)              AS n_ticks
FROM events
GROUP BY user_id, bucket
""",
)
def q_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling (the candlestick shape): per (user, hour) bucket,
    open/close via min_by/max_by on ts (one partial+final aggregate, no
    window pass), high/low plain min/max. ts is unique per user in the
    fixture, so min_by/max_by ties cannot arise (DuckDB arg_min/arg_max
    agree on unique keys)."""
    e = table(spark, sf_dir, "events")
    return e.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("bucket")
    ).agg(
        F.min_by("value", "ts").alias("open"),
        F.round(F.max("value"), 2).alias("high"),
        F.round(F.min("value"), 2).alias("low"),
        F.max_by("value", "ts").alias("close"),
        F.count("*").alias("n_ticks"),
    )


@register(
    "q_session_stats",
    driver=False,  # extra §2.8 proof — pytest-only oracle
    oracle="""
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) > 1800.0
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), islands AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
), sessions AS (
  SELECT user_id,
         epoch(max(ts)) - epoch(min(ts)) AS active_secs,
         count(*) AS n_events
  FROM islands GROUP BY user_id, sid
)
SELECT CAST(user_id % 10 AS BIGINT)          AS user_bucket,
       CAST(count(*) AS BIGINT)              AS n_sessions,
       round(avg(active_secs), 4)            AS avg_active_secs,
       round(max(active_secs), 4)            AS max_active_secs,
       round(avg(n_events), 6)               AS avg_events
FROM sessions GROUP BY 1
""",
)
def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-duration statistics per user bucket: sessionize (native
    session_window, the SAME proven gap semantics as q_session_window),
    then aggregate active time (last event − first event — gap padding
    excluded so the metric is engine-independent) and events per session.
    Two keyed aggregates; the per-session intermediate is 1 row per
    session, never the event list."""
    from ..operators import event_time as ET2

    sess = ET2.session(
        table(spark, sf_dir, "events"),
        "ts",
        "30 minutes",
        keys=["user_id"],
        n_events=F.count("*"),
        first_ts=F.min("ts"),
        last_ts=F.max("ts"),
    )
    per_session = sess.select(
        "user_id",
        (F.unix_timestamp("last_ts") - F.unix_timestamp("first_ts")
         + (F.col("last_ts").cast("double") % 1) - (F.col("first_ts").cast("double") % 1)
         ).alias("active_secs"),
        "n_events",
    )
    return per_session.groupBy((F.col("user_id") % 10).alias("user_bucket")).agg(
        F.count("*").alias("n_sessions"),
        F.round(F.avg("active_secs"), 4).alias("avg_active_secs"),
        F.round(F.max("active_secs"), 4).alias("max_active_secs"),
        F.round(F.avg("n_events"), 6).alias("avg_events"),
    )


@register(
    "q_rollup_cascade",
    driver=False,  # §2.8 hierarchical-rollup extension — pytest oracle
    oracle="""
SELECT 'hour' AS grain,
       CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket,
       event_type,
       count(*)                                  AS n_events,
       CAST(count(value) AS BIGINT)              AS n_values,
       round(sum(value), 4)                      AS sum_value,
       round(sum(value) / count(value), 8)       AS avg_value
FROM events GROUP BY 2, 3
UNION ALL
SELECT 'day' AS grain,
       CAST(date_trunc('day', ts) AS TIMESTAMP)  AS bucket,
       event_type,
       count(*)                                  AS n_events,
       CAST(count(value) AS BIGINT)              AS n_values,
       round(sum(value), 4)                      AS sum_value,
       round(sum(value) / count(value), 8)       AS avg_value
FROM events GROUP BY 2, 3
""",
)
def q_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical time rollup (the hypertable continuous-aggregate
    cascade): minute partials from raw events, hours FROM the minute table,
    days FROM the hour table — each coarser grain re-aggregates the previous
    one's mergeable partials (count/sum), never the raw stream, and the avg
    is derived sum/count at read time (an avg-of-avgs would be wrong; keep
    partials algebraic). Oracle computes each grain directly from raw events
    — associativity makes cascade ≡ direct, which is exactly the property
    the pattern relies on.

    Scale: this is THE way repeated dashboards over 100 TB of events stay
    cheap — the minute partial table is O(keys × minutes) ≪ raw, each level
    reads the previous level only, and all levels share the event_type key
    so the cascade re-partitions tiny inputs. Sum rounded at 4 dp; avg at
    8 dp, deliberately BEYOND the exact decimal width — 2-decimal fixture
    values divided by power-of-two bucket counts land exactly ON 6 dp half
    boundaries where the engines' double rounding disagrees, while every
    exact ≤8-digit decimal sits 5e-9 from an 8 dp boundary (≫ 1e-13 sum
    drift), so 8 dp is the boundary-safe depth."""
    e = table(spark, sf_dir, "events")
    minute = e.groupBy(
        F.date_trunc("minute", F.col("ts")).alias("bucket"),
        "event_type",
    ).agg(
        F.count("*").alias("n_events"),
        F.count("value").alias("n_values"),
        F.sum("value").alias("sum_value"),
    )

    def _up(df: DataFrame, grain: str) -> DataFrame:
        return df.groupBy(
            F.date_trunc(grain, F.col("bucket")).alias("bucket"),
            "event_type",
        ).agg(
            F.sum("n_events").alias("n_events"),
            F.sum("n_values").alias("n_values"),
            F.sum("sum_value").alias("sum_value"),
        )

    hour = _up(minute, "hour")
    day = _up(hour, "day")

    def _fin(df: DataFrame, grain: str) -> DataFrame:
        return df.select(
            F.lit(grain).alias("grain"),
            "bucket",
            "event_type",
            "n_events",
            "n_values",
            F.round("sum_value", 4).alias("sum_value"),
            F.round(F.col("sum_value") / F.col("n_values"), 8).alias(
                "avg_value"
            ),
        )

    return _fin(hour, "hour").unionByName(_fin(day, "day"))


@register(
    "q_session_capped",
    driver=False,  # §2.8 sequential-semantics extension — pytest oracle
    oracle="""
WITH RECURSIVE o AS MATERIALIZED (
  -- MATERIALIZED: inlined, DuckDB re-evaluates this CTE every recursion
  -- round (the q_cycle_nodes sf1 hang class); the hint pins one evaluation
  SELECT user_id, ts, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
), r AS (
  SELECT user_id, rn, ts, ts AS sess_start FROM o WHERE rn = 1
  UNION ALL
  SELECT o.user_id, o.rn, o.ts,
         CASE WHEN o.ts > r.ts + INTERVAL 30 MINUTE
                OR o.ts > r.sess_start + INTERVAL 2 HOUR
              THEN o.ts ELSE r.sess_start END
  FROM r JOIN o ON o.user_id = r.user_id AND o.rn = r.rn + 1
)
SELECT user_id, sess_start,
       CAST(count(*) AS BIGINT)                               AS n_events,
       CAST(max(epoch_us(ts)) - epoch_us(sess_start) AS BIGINT) AS span_us
FROM r GROUP BY user_id, sess_start
""",
)
def q_session_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capped sessionization: a new session starts on a >30-minute gap OR
    when the event lands more than 2 hours after the current session's
    start — the max-duration rule real web analytics adds so an always-on
    client can't produce an unbounded session. This is genuinely
    SEQUENTIAL semantics (each assignment depends on the previous
    session's start), which `session_window` / gaps-and-islands cannot
    express — exactly the case SURVEY §2.10 reserves the grouped-map
    escape hatch for: an Arrow-batched per-user Python scan
    (applyInPandas), one user_id shuffle, O(events/user) memory. The
    oracle is an independent per-user recursive CTE applying the same
    recurrence.

    Timestamp comparisons are exact integer µs on both sides; outputs are
    session rollups (never event lists)."""
    import pandas as pd

    e = table(spark, sf_dir, "events").select("user_id", "ts", "event_id")

    def sessions(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
        gap = pd.Timedelta(minutes=30)
        cap = pd.Timedelta(hours=2)
        out = []
        start = prev = None
        n = 0
        for ts in pdf["ts"]:
            if start is None or ts > prev + gap or ts > start + cap:
                if start is not None:
                    out.append((pdf["user_id"].iloc[0], start, n, prev))
                start, n = ts, 0
            n += 1
            prev = ts
        out.append((pdf["user_id"].iloc[0], start, n, prev))
        res = pd.DataFrame(
            out, columns=["user_id", "sess_start", "n_events", "last_ts"]
        )
        res["span_us"] = (
            (res["last_ts"] - res["sess_start"]).astype("int64") // 1000
        )
        return res.drop(columns=["last_ts"])

    return e.groupBy("user_id").applyInPandas(
        sessions,
        schema="user_id long, sess_start timestamp, n_events long, span_us long",
    )


@register(
    "q_interarrival",
    driver=False,  # §2.5 operational-latency extension — pytest oracle
    oracle="""
WITH gaps AS (
  SELECT user_id,
         CAST(epoch_us(ts) - epoch_us(lag(ts) OVER (
              PARTITION BY user_id ORDER BY ts, event_id)) AS BIGINT) AS gap_us
  FROM events
)
SELECT CAST(count(*) AS BIGINT) AS n_gaps,
       CAST(round(CAST(quantile_cont(gap_us, 0.5) AS DOUBLE), 0) AS BIGINT)
         AS p50_us,
       CAST(round(CAST(quantile_cont(gap_us, 0.9) AS DOUBLE), 0) AS BIGINT)
         AS p90_us,
       CAST(max(gap_us) AS BIGINT) AS max_us
FROM gaps WHERE gap_us IS NOT NULL
""",
)
def q_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-time distribution: per-user event gaps in EXACT
    integer microseconds (unix_micros ≡ epoch_us — the timestamps gotcha:
    seconds-level casts diverge), summarized as p50/p90/max. The
    engagement-cadence metric next to q_session_stats; percentiles
    interpolate over integers and round to whole µs, so the outputs are
    engine-identical.

    Scale: one user-keyed window pass for the lag, then a single global
    aggregate; the quantiles swap to the histogram sketch
    (q_quantile_histogram_rollup) when the gap table must not sort."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = e.select(
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias(
            "gap_us"
        )
    ).filter(F.col("gap_us").isNotNull())
    return gaps.agg(
        F.count("*").alias("n_gaps"),
        F.round(F.percentile("gap_us", F.lit(0.5)).cast("double"), 0)
        .cast("long")
        .alias("p50_us"),
        F.round(F.percentile("gap_us", F.lit(0.9)).cast("double"), 0)
        .cast("long")
        .alias("p90_us"),
        F.max("gap_us").alias("max_us"),
    )


@register(
    "q_concurrency_sweep",
    driver=False,  # §2.5 interval-counting extension — pytest oracle
    oracle="""
WITH iv AS (
  SELECT o.o_orderkey,
         CAST(date_trunc('day', o.o_orderdate) AS TIMESTAMP) AS s,
         CAST(date_trunc('day', max(l.l_shipdate)) AS TIMESTAMP)
           + INTERVAL 1 DAY AS e
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_orderkey, o.o_orderdate
), pts AS (
  SELECT s AS day, 1 AS delta FROM iv
  UNION ALL
  SELECT e AS day, -1 AS delta FROM iv
), d AS (
  SELECT day, CAST(sum(delta) AS BIGINT) AS net FROM pts GROUP BY day
)
SELECT day, net,
       CAST(sum(net) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS open_orders
FROM d
""",
)
def q_concurrency_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent-interval counting by SWEEP LINE — how many orders are
    open (placed but not fully shipped) on each day: every interval
    contributes a +1 at its start day and a −1 the day after its last
    shipment, and a running sum over the (collapsed) day grid IS the
    concurrency curve. The O(n log n) pattern that replaces the
    day-grid × interval range join (the BNLJ q_rolling_distinct documents
    as its own scale ceiling) — integer deltas, so exact everywhere.

    Scale: interval endpoints collapse to ≤ 2 rows each, the day grid
    aggregates to |days| rows BEFORE the running sum, and the final
    window is a single tiny ordered pass. At 100 TB the same sweep
    handles sessions, connections, or inventory holds — anything
    interval-shaped."""
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    iv = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("last_ship"))
        .select(
            F.date_trunc("day", "o_orderdate").alias("s"),
            (
                F.date_trunc("day", "last_ship") + F.expr("INTERVAL 1 DAY")
            ).alias("e"),
        )
    )
    pts = iv.select(F.col("s").alias("day"), F.lit(1).alias("delta")).unionByName(
        iv.select(F.col("e").alias("day"), F.lit(-1).alias("delta"))
    )
    d = pts.groupBy("day").agg(F.sum("delta").cast("long").alias("net"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return d.select(
        "day", "net", F.sum("net").over(w).cast("long").alias("open_orders")
    )


@register(
    "q_stl_decompose",
    driver=False,  # §2.5/§2.8 time-series extension (round 4) — pytest oracle
    oracle="""
WITH hourly AS (
  SELECT CAST(ts AS DATE) AS d, CAST(extract(hour FROM ts) AS INT) AS h,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL
  GROUP BY 1, 2
), trended AS (
  SELECT d, h, cents,
         CAST(sum(cents) OVER w AS BIGINT) AS wsum,
         CAST(count(*) OVER w AS BIGINT)   AS wcnt
  FROM hourly
  WINDOW w AS (ORDER BY d, h ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
), seas AS (
  SELECT h,
         CAST(sum(cents) AS BIGINT)  AS hsum,
         CAST(count(*) AS BIGINT)    AS hcnt
  FROM hourly GROUP BY h
), tot AS (
  SELECT CAST(sum(cents) AS BIGINT) AS gsum, CAST(count(*) AS BIGINT) AS gcnt
  FROM hourly
)
SELECT strftime(d, '%Y-%m-%d') AS day, t.h,
       round(cents / 100.0, 2)                                    AS observed,
       round(wsum / (CAST(wcnt AS DOUBLE) * 100.0), 4)            AS trend,
       round(hsum / (CAST(hcnt AS DOUBLE) * 100.0)
             - gsum / (CAST(gcnt AS DOUBLE) * 100.0), 4)          AS seasonal,
       round(cents / 100.0
             - wsum / (CAST(wcnt AS DOUBLE) * 100.0)
             - (hsum / (CAST(hcnt AS DOUBLE) * 100.0)
                - gsum / (CAST(gcnt AS DOUBLE) * 100.0)), 4)      AS residual
FROM trended t
JOIN seas s ON s.h = t.h
CROSS JOIN tot
""",
)
def q_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal-trend decomposition of the hourly revenue series
    (STL's pipeline shape with engine-stable estimators): trend = centered
    25-hour moving average, seasonal = hour-of-day mean minus grand mean,
    residual = observed − trend − seasonal. Every estimator is a ratio of
    exact integer-cent sums, so the doubles agree bit-for-bit before
    rounding — the LOESS of real STL is replaced by estimators an oracle
    can replay exactly.

    Scale: the hourly rollup is the only data-sized shuffle; the series
    itself (≤ 24·days rows) is metadata — the window/seasonal/grand passes
    run on it. Same two-level shape as q_rollup_cascade."""
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cents = F.round(F.col("value") * 100).cast("long")
    hourly = (
        e.select(
            F.to_date("ts").alias("d"),
            F.hour("ts").cast("int").alias("h"),
            cents.alias("c"),
        )
        .groupBy("d", "h")
        .agg(F.sum("c").alias("cents"))
    )
    w = Window.orderBy("d", "h").rowsBetween(-12, 12)
    trended = hourly.select(
        "d",
        "h",
        "cents",
        F.sum("cents").over(w).alias("wsum"),
        F.count("*").over(w).alias("wcnt"),
    )
    seas = hourly.groupBy("h").agg(
        F.sum("cents").alias("hsum"), F.count("*").alias("hcnt")
    )
    tot = hourly.agg(F.sum("cents").alias("gsum"), F.count("*").alias("gcnt"))
    trend = F.col("wsum") / (F.col("wcnt").cast("double") * 100.0)
    seasonal = F.col("hsum") / (F.col("hcnt").cast("double") * 100.0) - F.col(
        "gsum"
    ) / (F.col("gcnt").cast("double") * 100.0)
    return (
        trended.join(F.broadcast(seas), "h")
        .crossJoin(F.broadcast(tot))
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "h",
            F.round(F.col("cents") / 100.0, 2).alias("observed"),
            F.round(trend, 4).alias("trend"),
            F.round(seasonal, 4).alias("seasonal"),
            F.round(F.col("cents") / 100.0 - trend - seasonal, 4).alias("residual"),
        )
    )


@register("q_dtw", driver=False)  # rows-only: DP recurrence, not SQL-expressible (SURVEY §7.4.3); numpy-replay-pinned in tests
def q_dtw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded dynamic-time-warping distance between every pair of
    event-type daily-spend series (SURVEY §2.11 time-series tier — the
    alignment-tolerant similarity measure shape-based clustering and
    anomaly triage use where Euclidean distance punishes small phase
    shifts). Each series is the exact integer cents-per-day vector; the
    DP runs under a Sakoe-Chiba band of radius 7 days (the standard
    locality constraint — O(n·r) instead of O(n²), and it regularizes
    pathological warpings) with |a−b| step cost, so the distance is an
    exact integer in both the query and the pytest numpy replay.

    This is genuinely not SQL-expressible (the DP cell recurrence has a
    data-dependent chain), so it is the grouped-map escape hatch SURVEY
    §2.10 reserves: series aggregate to one array row per key (exact
    sort_array on day), pairs form a k² metadata cross join, and one
    Arrow-batched pandas UDF computes the band. Rows-only by nature; the
    test pins the full distance matrix against an independent numpy DP.

    Scale: the heavy side is the per-key daily aggregation (one shuffle,
    map-side partials); series arrays are metadata (days × keys). For
    millions of keys the pair space needs LSH-style prefiltering (PAA /
    SAX envelopes — same banding idea as q_dedup_minhash) before the
    exact DP re-ranks candidates."""
    from ..functions.udfs import dtw_band

    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = (
        e.groupBy(
            F.col("event_type").alias("k"), F.to_date("ts").alias("day")
        )
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    )
    series = daily.groupBy("k").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("day", "cents"))),
            lambda s: s["cents"],
        ).alias("vec")
    )
    pairs = (
        series.alias("a")
        .crossJoin(F.broadcast(series.alias("b")))
        .filter(F.col("a.k") < F.col("b.k"))
        .select(
            F.col("a.k").alias("type_a"),
            F.col("b.k").alias("type_b"),
            F.col("a.vec").alias("va"),
            F.col("b.vec").alias("vb"),
        )
    )
    return pairs.select(
        "type_a",
        "type_b",
        F.size("va").cast("long").alias("n_a"),
        F.size("vb").cast("long").alias("n_b"),
        dtw_band()("va", "vb").alias("dtw_cents"),
    )


# --------------------------------------------------------------------------
# Periodogram of the daily revenue series (round 5 continuation)
# --------------------------------------------------------------------------
@register("q_periodogram", driver=False)  # rows-only: libm cos/sin sums accumulate cross-engine ulp drift (SURVEY §7.4.4); numpy-FFT-replay-pinned in tests
def q_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-Fourier periodogram of the mean-centered daily revenue
    series: spectral power at the first 20 Fourier frequencies — the
    seasonality detector that picks the period q_forecast_backtest's
    seasonal-naive baseline and q_stl_decompose then assume (SURVEY §2.11
    time-series tier). For
    each frequency k, P(k) = (2/n)·[(Σy_t·cos(2πkt/n))² +
    (Σy_t·sin(2πkt/n))²] over the day-ranked series; the dominant k
    flags the cycle length n/k.

    Rows-only by nature: the cos/sin sums run through libm on ~n·20
    terms, where last-ulp differences between JVM StrictMath-backed
    Spark and DuckDB's libm could accumulate past a fixed rounding
    depth — so the pin is an independent numpy rFFT replay in pytest
    (power ratios at every k), not a SQL hash.

    Scale: the day series is metadata after one data-sized rollup; the
    (t, k) expansion is days×20 rows of pure codegen arithmetic — at
    finer granularity (per-second series) switch to mapInPandas over
    contiguous chunks and one numpy rFFT per key, the same partial
    shape."""
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")
    )
    n_row = daily.agg(
        F.count("*").alias("n"), F.sum("cents").alias("s")
    )
    t_idx = daily.select(
        "cents",
        (F.row_number().over(Window.orderBy("day")) - 1).alias("t"),
    )
    centered = t_idx.crossJoin(F.broadcast(n_row)).select(
        "t",
        "n",
        (F.col("cents") - F.col("s").cast("double") / F.col("n")).alias("y"),
    )
    ks = spark.range(1, 21).select(F.col("id").alias("k"))
    ang = (
        centered.crossJoin(F.broadcast(ks))
        .filter(F.col("k") < F.col("n") / 2)
        .select(
            "k",
            "n",
            (F.col("y") * F.cos(
                2.0 * math.pi * F.col("k") * F.col("t") / F.col("n")
            )).alias("c"),
            (F.col("y") * F.sin(
                2.0 * math.pi * F.col("k") * F.col("t") / F.col("n")
            )).alias("s"),
        )
    )
    g = ang.groupBy("k", "n").agg(F.sum("c").alias("sc"), F.sum("s").alias("ss"))
    return g.select(
        F.col("k").cast("long").alias("k"),
        F.round(F.col("n") / F.col("k").cast("double"), 4).alias("period_days"),
        F.round(
            2.0
            / F.col("n")
            * (F.col("sc") * F.col("sc") + F.col("ss") * F.col("ss")),
            2,
        ).alias("power"),
    ).orderBy("k")


@register("q_hurst", driver=False)  # rows-only: R/S rescaling chains libm ops whose ulp drift a fixed round can't bound (SURVEY §7.4.4); numpy-replay-pinned in tests
def q_hurst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent by rescaled-range (R/S) analysis of the daily
    revenue series: for window sizes w ∈ {8, 16, 32, 64}, split the
    day-ranked series into ⌊n/w⌋ blocks, compute each block's rescaled
    range R/S (range of the cumulative mean-centered sum over the block
    sd), average per w, and fit log2(R/S) on log2(w) by exact-OLS slope
    — H > 0.5 flags long-range dependence (trending), H < 0.5 mean
    reversion; the memory diagnostic behind q_acf and q_ewma parameter
    choices (SURVEY §2.11 time-series tier). Blocks assemble with ONE
    ordered window (rank → block id), per-block moments are exact
    integers, and the cumulative deviation uses the running-sum window
    WITHIN each block — fully parallel over blocks.

    Rows-only by nature: R/S chains sqrt, division and log2 per block
    before averaging, so cross-engine ulp drift can accumulate past any
    fixed rounding depth — the pin is an independent numpy replay of the
    identical estimator.

    Scale: the daily rollup is the data-sized step; block statistics
    shuffle on (w, block) with map-side partials — millions of blocks
    parallelize; the final fit sees 4 rows."""
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")
    )
    t_idx = daily.select(
        "cents", (F.row_number().over(Window.orderBy("day")) - 1).alias("t")
    )
    ws = spark.range(0, 4).select(
        F.expr("cast(shiftleft(8L, cast(id as int)) as long)").alias("w")
    )
    blocks = (
        t_idx.crossJoin(F.broadcast(ws))
        .select("w", (F.col("t") / F.col("w")).cast("long").alias("blk"), "t", "cents")
    )
    # keep only complete blocks: block size == w
    sized = blocks.withColumn(
        "blk_n", F.count("*").over(Window.partitionBy("w", "blk"))
    ).filter(F.col("blk_n") == F.col("w"))
    stats = sized.groupBy("w", "blk").agg(
        F.sum("cents").alias("s"),
        F.count("*").alias("n"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents")).alias("ss"),
    )
    dev = (
        sized.join(stats, ["w", "blk"])
        .withColumn(
            "cum_dev",
            F.sum(
                F.col("cents") - F.col("s").cast("double") / F.col("n")
            ).over(
                Window.partitionBy("w", "blk").orderBy("t")
                .rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("w", "blk", "s", "n", "ss")
        .agg((F.max("cum_dev") - F.min("cum_dev")).alias("rng"))
    )
    n, s = F.col("n"), F.col("s")
    sd = F.sqrt(
        (n * F.col("ss") - s.cast("decimal(38,0)") * s).cast("double")
        / (n.cast("double") * n)
    )
    rs = dev.filter(sd > 0).select(
        "w", (F.col("rng") / sd).alias("rs")
    )
    per_w = (
        rs.groupBy("w")
        .agg(F.avg("rs").alias("avg_rs"))
        .select(
            "w",
            F.log2(F.col("w").cast("double")).alias("x"),
            F.log2(F.col("avg_rs")).alias("y"),
        )
    )
    fit = per_w.agg(
        F.count("*").alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    k = F.col("k")
    slope = (k * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        k * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return fit.select(
        k.cast("long").alias("n_window_sizes"),
        F.round(slope, 6).alias("hurst_h"),
    )


# --------------------------------------------------------------------------
# Out-of-orderness census — the watermark-sizing diagnostic (round 6)
# --------------------------------------------------------------------------
@register(
    "q_disorder_census",
    driver=False,  # §2.8 watermark-ops diagnostic — pytest oracle
    oracle="""
WITH arr AS (
  SELECT event_type, ts,
         CAST(epoch_us(ts) AS BIGINT) AS t_us,
         max(CAST(epoch_us(ts) AS BIGINT))
           OVER (PARTITION BY event_type
                 ORDER BY md5(CAST(event_id AS VARCHAR)), event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hwm_us
  FROM events
), late AS (
  SELECT event_type, hwm_us - t_us AS late_us FROM arr
), rk AS (
  SELECT event_type, late_us,
         row_number() OVER (PARTITION BY event_type ORDER BY late_us, 1) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM late
)
SELECT event_type,
       CAST(max(n) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
       CAST(max(late_us) AS BIGINT) AS max_late_us,
       CAST(max(CASE WHEN rn = (n * 95 + 99) // 100 THEN late_us END) AS BIGINT)
         AS p95_late_us,
       CAST(max(CASE WHEN rn = (n * 99 + 99) // 100 THEN late_us END) AS BIGINT)
         AS p99_late_us
FROM rk GROUP BY event_type
""",
)
def q_disorder_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-orderness census (SURVEY §2.8 watermark tier, the OPS side):
    per event_type, how late does an event arrive behind the running
    event-time high-water mark? Arrival order is the fixture's event_id
    deterministically scrambled by md5 — a reproducible stand-in for
    network/shard reordering (the fixture's raw event_id order IS
    timestamp order, which would make the census trivially zero).
    ``lateness = hwm − ts`` per event; the report is max / exact-rank p95
    / p99 lateness (rank = ⌈n·q⌉ as integer arithmetic, no double
    percentile) plus the late-row count. p99_late is THE number that
    sizes ``withWatermark`` — the engine's lateness budget below which
    <1% of rows would drop (q_stream_tumbling's delay and the README
    trigger notes cite exactly this measurement discipline).

    Scale: one (type) shuffle; the running max shares the rank sort."""
    e = table(spark, sf_dir, "events")
    t_us = F.unix_micros("ts")
    w_arr = (
        Window.partitionBy("event_type")
        .orderBy(F.md5(F.col("event_id").cast("string")), "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    late = e.select(
        "event_type", (F.max(t_us).over(w_arr) - t_us).alias("late_us")
    )
    wr = Window.partitionBy("event_type").orderBy("late_us", F.lit(1))
    wn = Window.partitionBy("event_type")
    rk = late.select(
        "event_type",
        "late_us",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    rank95 = F.expr("(n * 95 + 99) div 100")
    rank99 = F.expr("(n * 99 + 99) div 100")
    return rk.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_events"),
        F.sum(F.when(F.col("late_us") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_late"),
        F.max("late_us").cast("long").alias("max_late_us"),
        F.max(F.when(F.col("rn") == rank95, F.col("late_us")))
        .cast("long")
        .alias("p95_late_us"),
        F.max(F.when(F.col("rn") == rank99, F.col("late_us")))
        .cast("long")
        .alias("p99_late_us"),
    )
