"""Streaming queries (SURVEY.md §2.8-2.9) exposed through the driver
contract: each runs a bounded availableNow stream to a memory sink, then
returns the drained table — so the DuckDB oracle can check that the
STREAMING result equals the batch semantics (Beam's unified model)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..session import scratch_dir
from ..streaming import jobs, stateful
from ._registry import register
from .analytics import _FUNNEL_SQL
from .event_time import _SESSION_SQL


def _sink(name: str, sf_dir: str) -> str:
    # unique per scale factor so repeated driver/test runs don't collide;
    # hashlib (not builtin hash, which is PYTHONHASHSEED-salted per process)
    # so the memory-sink table name is stable across runs and log-correlatable
    import hashlib

    return f"{name}_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}"


@register(
    "q_stream_tumbling",
    oracle="""
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP)                   AS window_start,
       CAST(date_trunc('hour', ts) AS TIMESTAMP) + INTERVAL 1 HOUR AS window_end,
       event_type,
       count(*)             AS n,
       round(sum(value), 2) AS sum_value
FROM events
GROUP BY 1, 2, 3
""",
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FixedWindows(1h) aggregation computed BY THE STREAMING ENGINE (file
    replay → watermark → windowed agg → availableNow drain) and checked
    against the batch oracle: stream ≡ batch."""
    return jobs.tumbling_counts_stream(
        spark, sf_dir, sink_name=_sink("stream_tumbling", sf_dir)
    )


@register(
    "q_stream_source",
    driver=False,  # rotated off r11 (wave 6) — stays oracle-backed in the local sweep
    oracle="SELECT event_type, count(*) AS n, max(ts) AS max_ts FROM events GROUP BY event_type",
)
def q_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbounded-source ingestion (the Pub/Sub-shaped capability, SURVEY
    §2.1): file-replay readStream → per-type counts — proves the streaming
    source delivers exactly the batch contents (no loss, no duplication)."""
    from pyspark.sql import functions as F

    name = _sink("stream_source", sf_dir)
    s = jobs.events_stream(spark, sf_dir)
    agg = s.groupBy("event_type").agg(
        F.count("*").alias("n"), F.max("ts").alias("max_ts")
    )
    jobs.run_to_memory(agg, name, output_mode="complete")
    return spark.table(name)


@register(
    "q_stateful_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def q_stateful_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup (per-key SetState across micro-batches, Beam
    stateful-DoFn pattern): first-seen (user_id, event_type) pairs — the
    emitted SET is deterministic and equals batch DISTINCT."""
    name = _sink("stateful_dedup", sf_dir)
    out = stateful.stateful_dedup_stream(jobs.events_stream(spark, sf_dir))
    jobs.run_to_memory(out, name, output_mode="append")
    return spark.table(name)


@register(
    "q_stream_interval_join",
    # driver slot since r10 (VERDICT r9 #2, wave 5): first streaming JOIN
    # graded externally (event-time interval join)
    oracle="""
SELECT a.event_type AS l_type, b.event_type AS r_type, count(*) AS n_pairs
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND b.ts > a.ts
 AND b.ts <= a.ts + INTERVAL 15 MINUTE
GROUP BY l_type, r_type
""",
)
def q_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join computed BY THE STREAMING ENGINE (two
    watermarked file-replay streams, time-bounded inner join, availableNow
    drain) vs the batch self-join oracle: stream ≡ batch. Deterministic
    because each fixture sf is a single file → one micro-batch → the
    watermark never drops a row. At 100 TB-scale streaming, state per side
    is bounded by (watermark + interval) of events per user — the join
    buffer Spark keeps is exactly the time bound, which is why the interval
    condition (not an unbounded equi-join) is the scalable form."""
    from pyspark.sql import functions as F

    name = _sink("stream_interval_join", sf_dir)
    left = jobs.events_stream(spark, sf_dir).withWatermark("ts", "1 minute").select(
        "user_id", F.col("ts").alias("l_ts"), F.col("event_type").alias("l_type")
    )
    right = jobs.events_stream(spark, sf_dir).withWatermark("ts", "1 minute").select(
        F.col("user_id").alias("r_user"), F.col("ts").alias("r_ts"),
        F.col("event_type").alias("r_type"),
    )
    joined = left.join(
        right,
        (F.col("user_id") == F.col("r_user"))
        & (F.col("r_ts") > F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 15 MINUTES")),
    )
    jobs.run_to_memory(joined, name, output_mode="append")
    return (
        spark.table(name)
        .groupBy("l_type", "r_type")
        .agg(F.count("*").alias("n_pairs"))
    )


@register(
    "q_stream_foreach_sink",
    driver=False,  # extra §2.1-custom-sink proof beyond the driver window
    oracle="""
SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
FROM events GROUP BY event_type
""",
)
def q_stream_foreach_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom sink (foreachBatch, Beam custom-sink DoFn analogue) proven
    end-to-end: stream → per-type aggregate (complete mode) → foreachBatch
    writes each micro-batch's full result to parquet keyed by nothing but
    the final overwrite (idempotent — re-running a batch rewrites the same
    state) → the SINK's contents are read back and hash-compared to the
    batch oracle. availableNow on a single fixture file ⇒ one deterministic
    final batch."""
    import os
    import shutil

    from pyspark.sql import functions as F

    out_dir = scratch_dir(f"foreach_sink_{_sink('x', sf_dir)}")
    shutil.rmtree(out_dir, ignore_errors=True)

    agg = (
        jobs.events_stream(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )

    def write_batch(df: DataFrame, batch_id: int) -> None:
        # complete mode: every batch carries the full result -> overwrite is
        # the idempotent batch_id-safe write (last batch wins, equal content)
        df.write.mode("overwrite").parquet(out_dir)

    jobs.run_foreach_batch(agg, write_batch, output_mode="complete")
    assert os.path.isdir(out_dir)
    return spark.read.parquet(out_dir)


@register(
    "q_stream_session",
    driver=False,  # extra §2.8 streaming proof beyond the driver window
    oracle=_SESSION_SQL,
)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessions(gap=30min) computed BY THE STREAMING ENGINE (session_window
    merge in the state store, complete mode so unfinalized sessions are not
    withheld, availableNow drain) vs the batch gap-island oracle: stream ≡
    batch for the trickiest window type. Append mode would hold back each
    user's final session (watermark never passes it on a bounded replay) —
    measured 945 vs 946 at sf0.001 — which is why complete mode is the
    bounded-drain form."""
    from pyspark.sql import functions as F

    from ..operators import event_time as ET

    name = _sink("stream_session", sf_dir)
    s = jobs.events_stream(spark, sf_dir).withWatermark("ts", "1 minute")
    agg = ET.session(
        s, "ts", "30 minutes", keys=["user_id"],
        n=F.count("*"), sum_value=F.round(F.sum("value"), 2),
    )
    jobs.run_to_memory(agg, name, output_mode="complete")
    return spark.table(name)


@register(
    "q_stream_sliding",
    driver=False,  # extra §2.8 streaming proof beyond the driver window
    oracle="""
SELECT ws                    AS window_start,
       ws + INTERVAL 2 HOUR  AS window_end,
       count(*)              AS n,
       round(sum(value), 2)  AS sum_value
FROM (
  SELECT unnest([CAST(date_trunc('hour', ts) AS TIMESTAMP),
                 CAST(date_trunc('hour', ts) AS TIMESTAMP) - INTERVAL 1 HOUR]) AS ws,
         value
  FROM events
)
GROUP BY ws
""",
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SlidingWindows(2h, 1h) computed BY THE STREAMING ENGINE (window
    expansion into the state store, complete-mode availableNow drain) vs
    the batch expand-and-group oracle — completes the streaming window
    family next to q_stream_tumbling and q_stream_session."""
    from pyspark.sql import functions as F

    from ..operators import event_time as ET

    name = _sink("stream_sliding", sf_dir)
    s = jobs.events_stream(spark, sf_dir).withWatermark("ts", "1 minute")
    agg = ET.sliding(
        s, "ts", "2 hours", "1 hour",
        n=F.count("*"), sum_value=F.round(F.sum("value"), 2),
    )
    jobs.run_to_memory(agg, name, output_mode="complete")
    return spark.table(name)


@register(
    "q_stream_curation",
    driver=False,  # extra composition proof beyond the driver window
    oracle=r"""
WITH scored AS (
  SELECT source,
         round(0.3 * (len(list_distinct(w)) / n)
             + 0.5 * (1.0 - (len(list_filter(w, x -> list_contains(['the','a','of','and','or'], x))) / n))
             + 0.2 * least(n / 100.0, 1.0), 6) AS quality,
         len(regexp_extract_all(text, '[a-z0-9._]+@[a-z0-9.-]+\.[a-z]+'))
           + len(regexp_extract_all(text, '\+?[0-9]+(-[0-9]+)+')) AS n_pii
  FROM (SELECT source, text, string_split(text, ' ') AS w,
               CAST(len(string_split(text, ' ')) AS DOUBLE) AS n
        FROM documents)
)
SELECT source,
       count(*) FILTER (WHERE quality >= 0.5)                    AS n_kept,
       count(*) FILTER (WHERE quality < 0.5)                     AS n_dropped,
       count(*) FILTER (WHERE n_pii > 0)                         AS n_pii_docs,
       round(CAST(sum(CAST(quality AS DECIMAL(8,6)))
                    FILTER (WHERE quality >= 0.5) AS DOUBLE)
             / count(*) FILTER (WHERE quality >= 0.5), 6)        AS avg_kept_quality
FROM scored
GROUP BY source
""",
)
def q_stream_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming curation composition (SURVEY §2.8 + §2.11): the
    continuous-ingest shape of a training-data pipeline — documents arrive
    as a file stream, each micro-batch is quality-scored and PII-screened
    with the SAME expression library the batch queries use
    (functions.text), and a per-source curation report aggregates in
    complete mode. Oracle = the batch equivalent over the full corpus:
    stream ≡ batch (Beam's unified model). At 100 TB the narrow score
    projection fuses into the scan of each micro-batch and the agg state
    is one row per source — the stream never holds the corpus.
    Quality sums use exact decimal; the avg divides two values both
    engines hold bit-identically, then rounds."""
    from pyspark.sql import functions as F

    from ..functions import text as T

    name = _sink("stream_curation", sf_dir)
    s = jobs.documents_stream(spark, sf_dir)
    pii = T.pii_counts(F.col("text"))
    scored = s.select(
        "source",
        F.round(T.quality_score(F.col("text")), 6).alias("quality"),
        sum(pii.values(), F.lit(0)).alias("n_pii"),
    )
    kept = F.col("quality") >= 0.5
    report = scored.groupBy("source").agg(
        F.count(F.when(kept, 1)).alias("n_kept"),
        F.count(F.when(~kept, 1)).alias("n_dropped"),
        F.count(F.when(F.col("n_pii") > 0, 1)).alias("n_pii_docs"),
        F.round(
            F.sum(F.when(kept, F.col("quality").cast("decimal(8,6)"))).cast("double")
            / F.count(F.when(kept, 1)),
            6,
        ).alias("avg_kept_quality"),
    )
    jobs.run_to_memory(report, name, output_mode="complete")
    return spark.table(name)


@register(
    "q_stream_dedup_native",
    driver=False,  # native-API twin of q_stateful_dedup (driver slot)
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def q_stream_dedup_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-native streaming dedup: ``dropDuplicates`` on a stream keeps
    first-seen keys in the state store — same capability as the custom
    applyInPandasWithState loop in q_stateful_dedup, zero user code, and
    the state lives JVM-side (no Python round-trip per batch). Projecting
    to the key columns first keeps the result deterministic (the engine
    keeps an arbitrary first row per key otherwise) AND shrinks state to
    the key itself. At 100 TB use ``dropDuplicatesWithinWatermark`` so
    state is evicted once the watermark passes — exact dedup forever
    requires unbounded state on a true unbounded stream."""
    name = _sink("stream_dedup_native", sf_dir)
    s = jobs.events_stream(spark, sf_dir).select("user_id", "event_type")
    jobs.run_to_memory(s.dropDuplicates(["user_id", "event_type"]), name,
                       output_mode="append")
    return spark.table(name)


@register(
    "q_stream_enrich",
    driver=False,  # extra §2.8 streaming proof — pytest-only oracle
    oracle="""
SELECT c.c_mktsegment,
       count(*)             AS n_events,
       round(sum(value), 2) AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1
""",
)
def q_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment (Beam's windowed side-input analogue,
    SURVEY §2.8): the event stream broadcast-joins the static customer dim
    inside each micro-batch — the stream never shuffles for the join — and
    aggregates per segment; drained via availableNow and checked stream ≡
    batch. At 100 TB the dim re-broadcasts per batch (O(GB) fine), and a
    slowly-changing dim is just a re-read of the current snapshot."""
    from pyspark.sql import functions as F

    from ..session import table

    sink = _sink("stream_enrich", sf_dir)
    stream = jobs.events_stream(spark, sf_dir)
    dim = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    enriched = stream.join(F.broadcast(dim), stream["user_id"] == dim["c_custkey"])
    agg = enriched.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )
    jobs.run_to_memory(agg, sink, output_mode="complete")
    return spark.table(sink)


@register(
    "q_stream_outer_join",
    driver=False,  # §2.4/§2.9 stream-stream OUTER join — pytest oracle
    oracle="""
WITH l AS (
  SELECT user_id, ts AS l_ts, event_type AS l_type FROM events
  WHERE event_type = 'purchase' AND ts < TIMESTAMP '2024-01-30 22:30:00'
), r AS (
  SELECT user_id, ts AS r_ts, event_type AS r_type FROM events
)
SELECT l_type,
       (r_type IS NOT NULL) AS matched,
       CAST(count(*) AS BIGINT) AS n
FROM l LEFT JOIN r
  ON l.user_id = r.user_id
 AND r.r_ts > l.l_ts AND r.r_ts <= l.l_ts + INTERVAL 15 MINUTE
GROUP BY l_type, matched
""",
)
def q_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join BY THE STREAMING ENGINE:
    post-purchase inactivity detection — each purchase left-joined to ANY
    same-user follow-up event within 15 minutes; the outer form emits the
    null-padded row only once the watermark proves no match can still
    arrive (the semantics Beam users get from windowed CoGroupByKey with
    empty groups). Stream ≡ batch oracle.

    Two determinism constraints, both load-bearing:
    - the left side is bounded away from the stream tail by more than
      watermark + interval, so every retained row's fate is decided
      before the availableNow drain ends (no-data micro-batches flush
      the state);
    - the right side is deliberately UNFILTERED: an event-type filter
      gets pushed below the EventTimeWatermark node, so the right
      watermark would track only the filtered subtype — with the default
      min multiple-watermark policy the global watermark then stalls at
      that subtype's last arrival (observed: sf0.001's last 'error' is
      hours before the stream end, stranding 3 outer rows in state). In
      production that stall is the CORRECT safety behavior; for a
      deterministic drain the right stream must watermark on the full
      feed — which is also the honest production shape for an
      inactivity detector.
    Scale: state per side is bounded by watermark + interval per user —
    the time bound IS the buffer bound, same as the inner form."""
    from pyspark.sql import functions as F

    name = _sink("stream_outer_join", sf_dir)
    cut = F.lit("2024-01-30 22:30:00").cast("timestamp")
    left = (
        jobs.events_stream(spark, sf_dir)
        .withWatermark("ts", "1 minute")
        .filter((F.col("event_type") == "purchase") & (F.col("ts") < cut))
        .select("user_id", F.col("ts").alias("l_ts"), F.col("event_type").alias("l_type"))
    )
    right = (
        jobs.events_stream(spark, sf_dir)
        .withWatermark("ts", "1 minute")
        .select(
            F.col("user_id").alias("r_user"),
            F.col("ts").alias("r_ts"),
            F.col("event_type").alias("r_type"),
        )
    )
    joined = left.join(
        right,
        (F.col("user_id") == F.col("r_user"))
        & (F.col("r_ts") > F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 15 MINUTES")),
        "leftOuter",
    )
    jobs.run_to_memory(joined, name, output_mode="append")
    return (
        spark.table(name)
        .groupBy("l_type", F.col("r_type").isNotNull().alias("matched"))
        .agg(F.count("*").alias("n"))
    )


@register(
    "q_stream_threshold_alert",
    driver=False,  # §2.9 emit-on-transition stateful shape — pytest oracle
    oracle="""
WITH o AS (
  SELECT user_id, ts, event_id,
         sum(coalesce(value, 0.0)) OVER (PARTITION BY user_id
             ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS cum,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
)
SELECT user_id, ts AS alert_ts, round(cum, 6) AS cum_value,
       CAST(rn AS BIGINT) AS n_seen
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS rx
  FROM o WHERE cum >= 1000.0
) WHERE rx = 1
""",
)
def q_stream_threshold_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user threshold-crossing alert BY THE STREAMING ENGINE
    (streaming/stateful.threshold_alert_stream): one alert row at the
    first event where the running value total reaches 1000 — the
    emit-on-transition stateful pattern, third in the family after
    emit-first dedup and emit-on-timeout sessions. Oracle: batch running
    sum over the same (ts, event_id) total order, first crossing row —
    stream ≡ batch because the sequential accumulation order is identical
    (and the output total is rounded at 6 dp)."""
    from pyspark.sql import functions as F

    name = _sink("stream_threshold_alert", sf_dir)
    s = jobs.events_stream(spark, sf_dir).select(
        "user_id", "ts", "event_id", "value"
    )
    jobs.run_to_memory(
        stateful.threshold_alert_stream(s), name, output_mode="append"
    )
    return spark.table(name).select(
        "user_id",
        "alert_ts",
        F.round("cum_value", 6).alias("cum_value"),
        "n_seen",
    )


@register(
    "q_stream_topk",
    driver=False,  # §2.8 streaming rank extension — pytest oracle
    oracle="""
WITH c AS (
  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
         event_type, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
)
SELECT window_start,
       window_start + INTERVAL 1 HOUR AS window_end,
       event_type, n, rk
FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY window_start
                                    ORDER BY n DESC, event_type) AS BIGINT)
              AS rk
  FROM c
)
WHERE rk <= 3
""",
)
def q_stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-window top-k: the STREAMING engine owns the heavy part
    (file replay → 1h windowed per-type counts, complete mode — the same
    state-store shape as q_stream_tumbling), and the rank-3 cut runs as a
    trivial batch step over the drained, already-aggregated sink (windows ×
    types rows). This is the production split for streaming leaderboards —
    ranking inside a streaming agg isn't expressible in one stage, so the
    dashboard layer ranks the tiny materialized aggregate each refresh;
    stream ≡ batch is oracle-checked end-to-end.

    Scale: the stream shuffles once into (window, type) state; the ranked
    post-pass touches |windows|×|types| rows — metadata-sized no matter
    the event volume."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    name = _sink("stream_topk", sf_dir)
    s = jobs.events_stream(spark, sf_dir)
    agg = s.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count("*").alias("n")
    )
    jobs.run_to_memory(agg, name, output_mode="complete")
    t = spark.table(name)
    w = Window.partitionBy("window").orderBy(F.col("n").desc(), "event_type")
    return (
        t.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n",
            "rk",
        )
    )


@register(
    "q_stream_custom_source",
    driver=False,  # §2.1 custom Python STREAMING DataSource — pytest oracle
    oracle="""
SELECT event_type, count(*) AS n, max(ts) AS max_ts,
       CAST(sum(event_id) AS BIGINT) AS id_sum
FROM events GROUP BY event_type
""",
)
def q_stream_custom_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom UNBOUNDED source via the Spark 4 Python DataSource streaming
    API (sources/pyds.py EventsReplayDataSource) — the registrable
    Pub/Sub-shape: ``readStream.format("events_replay")`` replays the
    events table in deterministic row-offset micro-batches (the
    (partition, offset) recovery contract of a real broker source),
    drained under availableNow into per-type counts + max ts + id
    checksum. Oracle = batch aggregation of the same table: a green hash
    proves the custom source delivers exactly the batch contents — no
    loss, no duplication — across multiple micro-batches.

    Scale: the simple (driver-serving) reader is the prototype tier;
    the partition-parallel DataSourceStreamReader is the same API one
    level down when per-batch volume needs executor-side reads."""
    import os as _os

    from pyspark.sql import functions as F

    from ..sources.pyds import EventsReplayDataSource

    try:
        spark.dataSource.register(EventsReplayDataSource)
    except Exception:
        pass
    name = _sink("stream_custom", sf_dir)
    # batch size scales with the input (r9): a fixed 2500 meant 400 driver-
    # served micro-batches on the 1M-row sf1 replica. r11: ~8 batches at
    # any sf (was ~40) — each micro-batch pays a fixed machinery cost
    # (planning, offset log, state-store commit per partition), so the
    # batch COUNT is the drain time; 8 still proves multi-batch replay and
    # the offset-range recovery contract, and the drained result is
    # identical under any batch size. Profiled at sf0.1: 40 batches ≈
    # 59 s of almost pure per-batch overhead.
    src_path = _os.path.join(sf_dir, "events.parquet")
    import pyarrow.dataset as _ds

    n_rows = _ds.dataset(src_path, format="parquet").count_rows()
    s = (
        spark.readStream.format("events_replay")
        .option("path", src_path)
        .option("batch_rows", str(max(2500, -(-n_rows // 8))))
        .load()
    )
    agg = s.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.max("ts").alias("max_ts"),
        F.sum("event_id").alias("id_sum"),
    )
    # availableNow prefetches only the FIRST simple-reader batch (the
    # wrapped prefetcher snapshots one read() call), so drain explicitly:
    # run continuously and block until the source stops advancing.
    # r11: size streaming state partitions like every other streaming
    # query (jobs.stream_tuned — this start() bypasses run_to_memory, so
    # it previously inherited tune()'s 32 batch shuffle partitions: 32
    # state-store instances committing per micro-batch for a 5-key agg)
    jobs.stream_tuned(spark)
    query = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    return spark.table(name)


@register(
    "q_stream_avro_sink",
    driver=False,  # §2.1 custom STREAMING sink (DataSource streamWriter) — pytest oracle
    oracle="""
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(event_id) AS BIGINT) AS id_sum
FROM events GROUP BY event_type
""",
)
def q_stream_avro_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STREAMING sink via the Python DataSource streamWriter API
    (sources/pyds.py AvroLiteStreamWriter): the events file-stream writes
    Avro container part-files per micro-batch with the exactly-once
    two-step every real file sink performs — task-side .tmp files, then a
    driver-side commit(batchId) rename + manifest (a replayed batch
    re-renames instead of double-appending). The result re-ingests the
    sink's OWN files and hash-matches the batch oracle: nothing lost,
    nothing duplicated through the streaming write path.

    Scale: per-task serialization (no driver gather); the commit step
    touches file metadata only — the same O(files) cost any commit
    protocol pays."""
    import os as _os
    import shutil as _shutil

    from pyspark.sql import functions as F

    from ..sources.avro_lite import read_avro
    from ..sources.pyds import AvroLiteDataSource
    from .scans import _scratch_dir, _sfkey

    try:
        spark.dataSource.register(AvroLiteDataSource)
    except Exception:
        pass
    out = _os.path.join(_scratch_dir(), f"stream_avro_{_sfkey(sf_dir)}")
    ckpt = out + "_ckpt"
    _shutil.rmtree(out, ignore_errors=True)
    _shutil.rmtree(ckpt, ignore_errors=True)
    s = jobs.events_stream(spark, sf_dir).select("event_id", "event_type")
    (
        s.writeStream.format("avro_lite")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    back = read_avro(spark, out)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("event_id").alias("id_sum")
    )


@register(
    "q_stream_drop_duplicates",
    driver=False,  # §2.9 built-in streaming dedup API (round 4) — pytest oracle
    oracle="""
SELECT event_id, user_id, event_type
FROM events
WHERE event_id % 3 = 0
""",
)
def q_stream_drop_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` — the BUILT-IN streaming dedup next
    to the hand-rolled stateful-DoFn version (q_stateful_dedup, SURVEY
    §2.9): a duplicate-injected stream (events ∪ a re-delivered slice, the
    at-least-once broker situation) deduplicates back to exactly the batch
    row set. State for a key is droppable once the watermark passes its
    event time + gap — bounded state, unlike plain dropDuplicates.

    Scale: state is hash-partitioned on event_id across the statestore;
    the watermark bound is what makes 100 TB/day ingest feasible (state
    size ∝ traffic within the lateness window, not history)."""
    from pyspark.sql import functions as F

    name = _sink("stream_dropdup", sf_dir)
    base = jobs.events_stream(spark, sf_dir).filter(F.col("event_id") % 3 == 0)
    dup = jobs.events_stream(spark, sf_dir).filter(
        (F.col("event_id") % 3 == 0) & (F.col("event_id") % 5 == 0)
    )
    merged = base.union(dup).withWatermark("ts", "1 hour")
    deduped = merged.dropDuplicatesWithinWatermark(["event_id"]).select(
        "event_id", "user_id", "event_type"
    )
    jobs.run_to_memory(deduped, name, output_mode="append")
    return spark.table(name)


@register(
    "q_stream_funnel",
    driver=False,  # §2.9 stateful streaming family (round 5) — pytest oracle
    oracle=_FUNNEL_SQL,
)
def q_stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel computed ONLINE by the streaming engine
    (streaming/stateful.funnel_stream): per-user milestone rows emitted as
    each stage is first reached, drained and rolled up into the same
    step-count table as the batch q_funnel — stream ≡ batch against the
    identical chained-min oracle. The state is three timestamps per user
    and each milestone emits exactly once, so the funnel dashboard this
    feeds updates incrementally instead of rescanning events (the entire
    point of the streaming form at 100 TB: per-batch work is proportional
    to NEW events, the emitted milestone stream is one row per user per
    stage, ever)."""
    from pyspark.sql import functions as F

    from ..streaming import stateful

    name = _sink("stream_funnel", sf_dir)
    s = jobs.events_stream(spark, sf_dir).select(
        "user_id", "ts", "event_id", "event_type"
    )
    jobs.run_to_memory(stateful.funnel_stream(s), name, output_mode="append")
    return (
        spark.table(name)
        .groupBy("step_no")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .select(
            F.when(F.col("step_no") == 1, "view")
            .when(F.col("step_no") == 2, "click")
            .otherwise("purchase")
            .alias("step"),
            F.col("step_no").cast("int").alias("step_no"),
            "n_users",
        )
    )


# --------------------------------------------------------------------------
# Streaming CDC materialization (round 5 continuation)
# --------------------------------------------------------------------------
@register(
    "q_stream_cdc_materialize",
    driver=False,  # §2.9 stateful streaming (round 5) — pytest oracle
    oracle="""
SELECT user_id, ts AS last_ts, event_id, event_type,
       round(value, 2) AS value
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
""",
)
def q_stream_cdc_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-stream → materialized snapshot BY THE STREAMING ENGINE
    (streaming/stateful.cdc_materialize_stream): per user, last-write-wins
    on the (ts, event_id) version key, one O(1) state row per key, update
    log emitted per micro-batch — the upsert view every CDC consumer
    maintains (fourth stateful pattern beside emit-first dedup,
    emit-on-transition alerts, and emit-on-timeout sessions; SURVEY §2.9).
    The drained update log is reduced to its final version per key by a
    trivial batch rank over the (already key-collapsed) sink — the same
    production split as q_stream_topk. Stream ≡ batch: the snapshot equals
    the batch last-row-per-user, oracle-checked end to end.

    Scale: state is one row per key (the minimum any upsert view needs);
    the update log is micro-batch-granular, not event-granular — the sink
    sees O(keys × batches), never O(events)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..streaming import stateful

    name = _sink("stream_cdc_materialize", sf_dir)
    s = jobs.events_stream(spark, sf_dir).select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    jobs.run_to_memory(
        stateful.cdc_materialize_stream(s), name, output_mode="append"
    )
    log = spark.table(name)
    w = Window.partitionBy("user_id").orderBy(
        F.col("last_ts").desc(), F.col("event_id").desc()
    )
    return (
        log.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "last_ts",
            "event_id",
            "event_type",
            F.round("value", 2).alias("value"),
        )
    )


@register(
    "q_stream_union",
    driver=False,  # §2.6 Flatten in streaming mode — pytest oracle
    oracle="""
SELECT arm, CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0, 2)
         AS sum_value
FROM (
  SELECT 'purchases' AS arm, value FROM events WHERE event_type = 'purchase'
  UNION ALL
  SELECT 'clicks', value FROM events WHERE event_type = 'click'
)
GROUP BY arm
""",
)
def q_stream_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Flatten (Beam §2.6 union-of-PCollections in STREAMING
    mode): two independently-filtered file-replay streams union into one
    unbounded DataFrame, aggregate, and drain via availableNow — proving
    stream ≡ batch holds across a multi-source topology, not just a
    single linear pipeline. Cents-exact sums (the stream's micro-batch
    boundaries must not move a 6th decimal).

    Scale: each arm keeps its own source offsets/checkpoint lineage;
    Spark unions unbounded plans without materializing either side —
    the multi-topic Kafka fan-in shape."""
    from pyspark.sql import functions as F

    name = _sink("stream_union", sf_dir)
    a = (
        jobs.events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(F.lit("purchases").alias("arm"), "value")
    )
    b = (
        jobs.events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(F.lit("clicks").alias("arm"), "value")
    )
    u = a.unionByName(b)
    agg = u.groupBy("arm").agg(
        F.count("*").alias("n"),
        F.round(
            F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0, 2
        ).alias("sum_value"),
    )
    jobs.run_to_memory(agg, name, output_mode="complete")
    return spark.table(name)


@register(
    "q_stream_ohlc",
    driver=False,  # §2.8 streaming windowed agg, finance shape — pytest oracle
    oracle="""
WITH px AS (
  SELECT event_type,
         CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
         ts, event_id,
         CAST(round(value * 100) AS BIGINT) AS c
  FROM events WHERE value IS NOT NULL
), rn AS (
  SELECT *,
         row_number() OVER (PARTITION BY event_type, window_start
                            ORDER BY ts, event_id) AS ra,
         row_number() OVER (PARTITION BY event_type, window_start
                            ORDER BY ts DESC, event_id DESC) AS rd
  FROM px
)
SELECT window_start,
       window_start + INTERVAL 1 HOUR AS window_end,
       event_type,
       round(max(CASE WHEN ra = 1 THEN c END) / 100.0, 2) AS open,
       round(max(c) / 100.0, 2)                           AS high,
       round(min(c) / 100.0, 2)                           AS low,
       round(max(CASE WHEN rd = 1 THEN c END) / 100.0, 2) AS close,
       CAST(count(*) AS BIGINT)                           AS volume
FROM rn GROUP BY window_start, event_type
""",
)
def q_stream_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bars computed BY THE STREAMING ENGINE (q_ohlc_bars' streaming
    twin): watermarked hourly windows with ``min_by``/``max_by`` on the
    deterministic (ts, event_id) struct order give exact open/close INSIDE
    one declarative streaming aggregate — no row_number pass, so the same
    query is a legal streaming aggregate (complete mode here, the
    q_stream_tumbling drain convention: append would hold back the final
    still-open window). Stream ≡ batch: the oracle is the batch row_number
    formulation, so this also proves min_by-over-struct equals
    first-by-total-order.

    Scale: per-window state is five scalars per (symbol, bar) — O(1) per
    key, the streaming-native shape real tick pipelines run; the batch
    twin's row_number sort is what this avoids."""
    from pyspark.sql import functions as F

    name = _sink("stream_ohlc", sf_dir)
    s = jobs.events_stream(spark, sf_dir).filter(F.col("value").isNotNull())
    c = F.round(F.col("value") * 100).cast("long")
    agg = (
        s.withColumn("c", c)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.min_by("c", F.struct("ts", "event_id")).alias("open_c"),
            F.max("c").alias("high_c"),
            F.min("c").alias("low_c"),
            F.max_by("c", F.struct("ts", "event_id")).alias("close_c"),
            F.count("*").alias("volume"),
        )
    )
    jobs.run_to_memory(agg, name, output_mode="complete")
    t = spark.table(name)
    return t.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "event_type",
        F.round(F.col("open_c") / 100.0, 2).alias("open"),
        F.round(F.col("high_c") / 100.0, 2).alias("high"),
        F.round(F.col("low_c") / 100.0, 2).alias("low"),
        F.round(F.col("close_c") / 100.0, 2).alias("close"),
        F.col("volume").cast("long").alias("volume"),
    )
