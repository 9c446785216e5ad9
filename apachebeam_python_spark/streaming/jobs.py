"""Structured Streaming jobs (SURVEY.md §2.8) — the unbounded-data path.

The fixture ``events`` table stands in for the reference's Pub/Sub-style
unbounded source (SURVEY §2.1): a file-source ``readStream`` replays it in
micro-batches; ``availableNow`` drains everything then stops — the batch≡
stream equivalence this enables is what the oracle checks (Beam's unified
model, expressed Spark-style).

Divergences from Beam documented here once (SURVEY §7.4.1): no early/late
panes, no accumulating-with-retraction; output modes (append/update/complete)
+ watermark-based late-data dropping are the Spark-idiomatic equivalents.

Scale notes: windowed agg on a stream = one shuffle per micro-batch into the
state store; watermark bounds state size (windows older than watermark are
evicted). Set ``spark.sql.streaming.statestore.*`` / RocksDB state store for
100 TB-class retention; keys here (event_type, user_id) are low-cardinality.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import event_time as ET
from ..session import convert_event_ts


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source replay of the events table as an unbounded stream.

    Schema comes from the batch reader (single source of truth, including
    the ns→µs ts conversion performed in session.table)."""
    raw = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    # file stream sources take a directory; ts conversion is
    # session.convert_event_ts — the SAME code path the batch reader uses,
    # so batch ≡ stream can't silently diverge.
    stream = _table_stream(spark, sf_dir, "events.parquet", raw.schema)
    return convert_event_ts(stream)


def _table_stream(spark: SparkSession, sf_dir: str, table_file: str, schema):
    """File-source stream over one fixture table, handling BOTH layouts:
    the driver fixtures are single files (``<sf_dir>/<table>.parquet``, so
    the stream reads ``sf_dir`` with a pathGlobFilter), while the sf1
    replica (sources/layout.py replicate_scaled) writes each table as a
    DIRECTORY of part files. Note (ADVICE r9): how many micro-batches the
    directory form yields is the CALLER's choice — without
    ``maxFilesPerTrigger`` the file source takes every available file in
    one batch under most triggers; callers that need multi-batch replay
    (e.g. the chaos/restart tests) must set that option themselves."""
    path = os.path.join(sf_dir, table_file)
    if os.path.isdir(path):
        return spark.readStream.schema(schema).parquet(path)
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", table_file)
        .parquet(sf_dir)
    )


#: streaming state partitions: each is a state-store instance with a fixed
#: per-micro-batch cost, so tiny local state wants few of them
_STREAM_SHUFFLE = 8


def stream_tuned(spark: SparkSession) -> None:
    """Size streaming STATE partitions to the state, not the core count.

    Every shuffle partition of a stateful streaming operator materializes a
    state-store instance, and each micro-batch pays a fixed per-instance
    cost (open/commit/snapshot) — so tiny-state local streams want FEW
    partitions (``_STREAM_SHUFFLE``), while a 100 TB deployment raises it
    toward executors × cores to spread state. Partition count never
    changes results — only where state lives. Batch queries are
    unaffected: every registered query re-applies ``tune()`` (32 + AQE)
    at build time, and streaming has no AQE, which is exactly why it needs
    this static right-sizing."""
    spark.conf.set("spark.sql.shuffle.partitions", str(_STREAM_SHUFFLE))


def run_to_memory(result: DataFrame, name: str, *, output_mode: str) -> None:
    """Drain an availableNow streaming query into an in-memory sink table
    (the TestStream-style harness: deterministic, bounded, then stops)."""
    stream_tuned(result.sparkSession)
    q = (
        result.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def tumbling_counts_stream(spark: SparkSession, sf_dir: str, *, watermark: str = "10 minutes", sink_name: str = "stream_tumbling") -> DataFrame:
    """FixedWindows(1h)+CombinePerKey over the event stream, with a
    watermark. Complete output mode so the drained sink holds every window
    (equals the batch result — late-data dropping never triggers in a replay
    because the watermark only advances between micro-batches)."""
    s = events_stream(spark, sf_dir).withWatermark("ts", watermark)
    agg = ET.tumbling(
        s, "ts", "1 hour", keys=["event_type"],
        n=F.count("*"),
        sum_value=F.round(F.sum("value"), 2),
    )
    run_to_memory(agg, sink_name, output_mode="complete")
    return spark.table(sink_name)


def tumbling_counts_batch_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BATCH twin of :func:`tumbling_counts_stream`'s aggregation
    subtree — same tumbling window + keys + aggregates over the same events
    table, minus the sink/drain machinery. Used ONLY for plan fingerprinting
    (bench.py ``plan_sha``): fingerprinting the streamed result would hash a
    memory-sink LocalTableScan (meaningless), while this twin hashes the agg
    plan that actually does the stream's work — a regression there (lost
    partial agg, changed shuffle) is exactly what the tripwire must catch."""
    from ..session import table

    e = table(spark, sf_dir, "events")
    return ET.tumbling(
        e, "ts", "1 hour", keys=["event_type"],
        n=F.count("*"),
        sum_value=F.round(F.sum("value"), 2),
    )


def run_foreach_batch(result: DataFrame, batch_fn, *, checkpoint: str | None = None, output_mode: str = "append") -> None:
    """The universal production sink (Beam's custom-sink DoFn analogue):
    ``foreachBatch`` hands each micro-batch to arbitrary batch-DataFrame code
    (merge/upsert into parquet-or-warehouse, multi-sink fan-out, JDBC...).

    Exactly-once story: the batch_fn receives (df, batch_id); idempotent
    writes keyed by batch_id + checkpointing give end-to-end exactly-once —
    same contract Beam sinks implement with their own dedup keys.
    """
    stream_tuned(result.sparkSession)
    w = (
        result.writeStream.foreachBatch(batch_fn)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    q = w.start()
    q.awaitTermination()


def documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source replay of the documents table as an unbounded stream
    (the continuous-ingest shape of a training-data pipeline: crawl
    batches land as files, the stream picks them up incrementally)."""
    raw = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return _table_stream(spark, sf_dir, "documents.parquet", raw.schema)
