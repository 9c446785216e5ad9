"""SparkSession construction, runtime tuning, and table loading.

The driver hands us an existing ``SparkSession`` (``__spark_entry__.py``), so
everything that must hold for correctness is applied as *runtime* conf via
:func:`tune` rather than builder-time conf:

- ``spark.sql.session.timeZone=UTC`` — the fixture parquet stores naive
  timestamps (FIXTURES.md); DuckDB reads them naive. Pinning the session to
  UTC makes Spark's collected datetimes identical to DuckDB's, which is what
  the driver's value-hash compares.
- AQE + Arrow on; shuffle partitions sized for the local run (the 100 TB
  story is: leave shuffle partitions to AQE's coalescing — see
  ``plans/scale_notes.md``).

Scale design: tables are loaded with ``spark.read.parquet`` so Catalyst gets
predicate pushdown / column pruning / partition pruning for free. No
``collect()`` happens here.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: dimension tables small enough to broadcast at any scale factor we target;
#: at 100 TB these stay O(MB)-O(GB) while facts grow, so broadcast is the
#: stable plan (region/nation are bounded by geography; supplier/part/customer
#: grow but stay orders of magnitude under lineitem/orders/events).
BROADCAST_DIMS = frozenset({"region", "nation", "supplier", "part", "customer"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def tune(spark: SparkSession, shuffle_partitions: int | None = None) -> SparkSession:
    """Apply runtime conf needed for correctness + local performance.

    Safe to call repeatedly (idempotent); called at the top of every
    registered query so it also holds under the driver's own session.
    """
    conf = spark.conf
    conf.set("spark.sql.session.timeZone", "UTC")
    conf.set("spark.sql.adaptive.enabled", "true")
    conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    # events.parquet stores timestamp[ns], which Spark 4 refuses to read as a
    # timestamp (PARQUET_TYPE_ILLEGAL). Read nanos as long; table() converts
    # to TimestampType at µs precision — matching DuckDB's own ns→µs
    # truncation (SURVEY §7.4.5).
    conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    # streaming state-store provider (round 6, VERDICT r5 #9): the default
    # HDFSBackedStateStoreProvider keeps EVERY key's state on the executor
    # HEAP — the 100 TB stateful-stream blocker (a billion-key dedup state
    # evicts nothing and OOMs). SPARK_GRAFT_STATE_STORE=rocksdb flips every
    # stream in the session to the RocksDB provider (state lives on local
    # SSD with changelog/snapshot files in the checkpoint dir — bounded heap
    # at any key count). Opt-in here because local[32] tests are faster and
    # byte-identical on the tiny default store; plans/scale_notes.md
    # prescribes rocksdb unconditionally on a real cluster.
    if os.environ.get("SPARK_GRAFT_STATE_STORE", "").lower() == "rocksdb":
        conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        # changelog checkpointing: per-batch deltas instead of full snapshot
        # uploads — the knob that keeps commit latency flat as state grows
        conf.set(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true",
        )
    return spark


def default_driver_mem(meminfo: str = "/proc/meminfo") -> str:
    """Driver heap for a local session: half of ``MemAvailable``, capped at
    16g and floored at 1g. The heap is committed up front (-Xms = -Xmx),
    so a fixed size the host cannot commit kills the JVM at start; the
    other half is left to the JVM's off-heap memory, the Python workers
    and the rest of the host. Hosts without ``/proc/meminfo`` get 2g."""
    try:
        with open(meminfo) as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemAvailable:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return "2g"
    return f"{min(max(kb // 2048, 1024), 16 * 1024)}m"


def scratch_dir(*parts: str) -> str:
    """Local scratch path for the warehouse, durable checkpoints and sink
    round trips: ``parts`` joined under ``$SPARK_GRAFT_SCRATCH`` if set,
    else under ``.tmp/`` (gitignored) in the checkout that holds this
    package — so a second checkout writes into its own tree, never into
    another's. Creates nothing."""
    root = os.environ.get("SPARK_GRAFT_SCRATCH") or os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp"
    )
    return os.path.join(root, *parts)


def get_spark(app_name: str = "apachebeam_python_spark") -> SparkSession:
    """Build a local session (tests / bench). The driver supplies its own."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    # pre-size the heap (-Xms = -Xmx): heap-growth full GCs under 32 threads
    # showed up as multi-second random per-query spikes in bench runs
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_mem()
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
        .config("spark.driver.memory", mem)
        .config("spark.driver.extraJavaOptions", f"-Xms{mem}")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", scratch_dir("warehouse"))
        .getOrCreate()
    )
    return tune(spark)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table. Columnar parquet scan → pushdown-friendly.

    Applies :func:`tune` first (idempotent) so this works on RAW sessions
    too — without the nanosAsLong conf, reading events.parquet aborts with
    PARQUET_TYPE_ILLEGAL on Spark 4."""
    tune(spark)
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = convert_event_ts(df)
    return df


def convert_event_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to TimestampType (single source of truth — the
    streaming reader applies the SAME conversion so batch ≡ stream holds).

    Two fixture encodings exist across testdata generations:

    - timestamp[ns] parquet → read as long (``nanosAsLong`` conf) → integer
      ``div`` 1000, not ``/``: float round-trip loses precision at 1e18 ns.
    - timestamp[us] parquet → read as TIMESTAMP_NTZ on Spark 4 → cast to
      TimestampType. The session timezone is pinned to UTC (:func:`tune`),
      so the cast preserves the wall-clock value exactly — and watermarks /
      ``window()`` require TimestampType, not NTZ.
    """
    from pyspark.sql.types import LongType, TimestampNTZType

    if isinstance(df.schema["ts"].dataType, LongType):
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif isinstance(df.schema["ts"].dataType, TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


_CKPT_SEQ = 0


def checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """THE lineage cut for iterative algorithms (connected components, BPE,
    PageRank/k-core/LPA/BFS round tables, shared PPJoin subtrees) — every
    iterative operator routes through here instead of calling
    ``localCheckpoint`` directly (pinned by tests/test_antipatterns.py).

    Two strategies, selected at call time by ``SPARK_GRAFT_DURABLE_CHECKPOINT``:

    - unset (local default): ``df.localCheckpoint(eager)`` — materializes
      into executor block storage. Fast and right-sized for local runs, but
      NOT fault-tolerant: blocks die with their executor, so one lost node
      in round 40 of a BPE train replays nothing — it kills the job.
    - set (``1``/``true`` → :func:`scratch_dir`, or an explicit directory path):
      parquet WRITE-THROUGH — the round table is written to the durable
      store and read back with its original schema. Any executor (or even
      driver-restart-with-resume) can replan from the last completed round.
      This is the 100 TB strategy prescribed in plans/scale_notes.md; on a
      cluster, point the env var at an object-store path (HDFS/S3A). Writes
      are eager by nature, so ``eager=False`` (a plan-sharing hint, not a
      semantic) degrades to eager materialization here.

    Durable round directories are retained, not auto-deleted: returned
    DataFrames read from them LAZILY, so deleting round N-1 while a consumer
    still references it would break the read. Production jobs reclaim them
    by job-scoped prefix + TTL, exactly like shuffle-spill retention.
    """
    mode = os.environ.get("SPARK_GRAFT_DURABLE_CHECKPOINT", "")
    # falsy spellings DISABLE durable mode (round-5 review #2): every other
    # repo flag uses =0 to turn off, so '0' must not be read as a relative
    # checkpoint DIRECTORY named "0"
    if not mode or mode.lower() in ("0", "false", "no", "off"):
        return df.localCheckpoint(eager=eager)
    global _CKPT_SEQ
    _CKPT_SEQ += 1
    root = (
        mode
        if mode.lower() not in ("1", "true", "yes")
        else scratch_dir(f"durable_ckpt_{os.getpid()}")
    )
    path = os.path.join(root, f"round_{_CKPT_SEQ:06d}")
    df.write.mode("overwrite").parquet(path)
    # read back with the WRITER'S schema: an empty round table writes zero
    # part files, and schema inference over _SUCCESS alone would fail.
    # Names/types round-trip exactly; nullability relaxes to True (file
    # scans never trust writer non-nullness) — invisible to value hashing
    return df.sparkSession.read.schema(df.schema).parquet(path)


def broadcast_if_small(
    df: DataFrame, limit_rows: int = 1_000_000, known_rows: int | None = None
) -> DataFrame:
    """Size-GATED broadcast hint (VERDICT r4 #3): ``F.broadcast`` when the
    side is provably small, plain DataFrame (AQE decides) otherwise.

    An unconditional ``F.broadcast`` on a table that merely *starts* small
    (POI lists, vocabularies, per-key dictionaries) is the classic 100 TB
    OOM: the hint overrides ``spark.sql.autoBroadcastJoinThreshold`` AND
    AQE's runtime size check, so driver memory is the first thing to die
    when the "dimension" grows. The probe here is a bounded action —
    ``limit(n+1).count()`` stops scanning at n+1 rows — so the gate costs
    O(limit) work, not a full materialization. Above the gate the join
    falls back to whatever AQE picks at runtime (still a broadcast if the
    RUNTIME size fits the threshold, else shuffle hash / sort-merge).

    Unconditional ``F.broadcast`` remains correct for structurally bounded
    sides (nation/region, 1-row scalars, k-row centroid tables) — the
    census in tests/test_antipatterns.py pins every such site per file.

    Probe-cost honesty: ``limit`` pushes down, but a side whose plan ENDS
    in an aggregation still pays its full shuffle map stage before the
    first row exists, and the join then computes the side AGAIN — i.e. the
    gate costs up to one extra evaluation of the small side. That is the
    deliberate trade (a bounded 2× on the SMALL side vs an unbounded OOM
    on the driver); when the caller already knows the side's cardinality
    (vocabulary tables, config-bounded grids), pass ``known_rows`` and the
    probe is skipped entirely.
    """
    n = known_rows if known_rows is not None else bounded_rows(df, limit_rows)
    return F.broadcast(df) if n <= limit_rows else df


def bounded_rows(df: DataFrame, limit_rows: int = 1_000_000) -> int:
    """Row count of ``df`` capped at ``limit_rows + 1`` — the bounded probe
    behind :func:`broadcast_if_small`. Run it once and pass the result as
    ``known_rows`` when several join sides project the same table."""
    return df.limit(limit_rows + 1).count()


def fan_out(df: DataFrame, multiplier: int = 1) -> DataFrame:
    """Redistribute a small-file input across all cores before CPU-heavy
    narrow work (Beam ``Reshuffle`` before an expensive ParDo).

    A table that arrives as one small parquet file is one Spark partition —
    fine for IO, serial for compute. At 100 TB inputs are naturally
    many-partitioned and this is a no-op-cost decision; locally it converts
    serial expression evaluation into 32-way parallelism for the price of
    shuffling a few MB.
    """
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism * multiplier)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all fixture tables as temp views for ``spark.sql`` entry."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
