"""Grouping & aggregation operators — the reference's ``GroupByKey`` /
``CombinePerKey`` / ``combiners`` vocabulary (SURVEY.md §2.3), Spark-first.

Every keyed combine here is a single-shuffle ``groupBy().agg(...)``: Catalyst
plans partial (map-side) + final HashAggregate automatically, which is
exactly Beam's "combiner lifting" optimization (SURVEY §4.1) — shuffle
traffic is O(distinct keys × partitions), not O(rows). That property is what
makes these hold at 100 TB; helpers below never collect to the driver.

Top-k per key deliberately uses ``row_number`` + filter: Spark ≥3.5 rewrites
that into WindowGroupLimit (per-partition partial top-k before the shuffle),
the scalable plan (SURVEY §4.2).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def combine_per_key(df: DataFrame, keys: Sequence[str], **aggs: Column) -> DataFrame:
    """Beam ``CombinePerKey`` (and ``GroupByKey``+fold): keyed multi-agg."""
    return df.groupBy(*keys).agg(*[a.alias(n) for n, a in aggs.items()])


def combine_globally(df: DataFrame, **aggs: Column) -> DataFrame:
    """Beam ``CombineGlobally``: whole-dataset combine (tiny result, one row)."""
    return df.agg(*[a.alias(n) for n, a in aggs.items()])


def count_per_element(df: DataFrame, *cols: str, out: str = "n") -> DataFrame:
    """Beam ``Count.PerElement``: element → occurrence count."""
    return df.groupBy(*cols).agg(F.count("*").alias(out))


def distinct_rows(df: DataFrame, *cols: str) -> DataFrame:
    """Beam ``Distinct``: exact dedup (hash aggregate on all/selected cols)."""
    return df.select(*cols).distinct() if cols else df.distinct()


def top_k_global(df: DataFrame, order: Sequence[Column], k: int) -> DataFrame:
    """Beam ``Top.Of(k)``: global top-k. ``orderBy+limit`` → Spark plans
    TakeOrderedAndProject (per-partition partial top-k, no full sort)."""
    return df.orderBy(*order).limit(k)


def top_k_per_key(df: DataFrame, keys: Sequence[str], order: Sequence[Column], k: int, rank_col: str = "rn") -> DataFrame:
    """Beam ``Top.PerKey(k)``: row_number ≤ k (WindowGroupLimit at runtime).

    ``order`` must be a total order (include a tiebreaker column) or results
    are nondeterministic under ties.
    """
    w = Window.partitionBy(*keys).orderBy(*order)
    return df.withColumn(rank_col, F.row_number().over(w)).filter(F.col(rank_col) <= k)


def latest_per_key(df: DataFrame, keys: Sequence[str], value: str, ts: str, out: str = "latest") -> DataFrame:
    """Beam ``Latest.PerKey``: value carried by the max-timestamp element.
    Single shuffle via ``max_by`` — no window, no self-join.

    Ties on ``ts`` break by max value (max_by over struct(ts, value)) so the
    result is deterministic under any partitioning; with unique timestamps
    (our fixture — verified) this is plain latest-by-time."""
    return df.groupBy(*keys).agg(
        F.max_by(value, F.struct(F.col(ts), F.col(value))).alias(out),
        F.max(ts).alias(f"max_{ts}"),
    )


def group_into_batches(df: DataFrame, keys: Sequence[str], value: str, batch_size: int, out: str = "batch") -> DataFrame:
    """Beam ``GroupIntoBatches``: per-key lists chunked to ≤ batch_size.

    Batch path: collect sorted values per key, slice into chunks, explode.
    (Streaming path: ``streaming.stateful.batch_events``.) At 100 TB the
    per-key list must fit an executor — same constraint Beam has per bundle.
    """
    values = F.array_sort(F.collect_list(value))
    n_batches = F.ceil(F.size(F.col("_vals")) / F.lit(batch_size)).cast("int")
    # greatest(...) + size filter: an all-null key group collects an EMPTY
    # list, where sequence(0, -1) would auto-step downward and emit garbage
    # slices — the filter drops them, matching the zero-batch semantics.
    batches = F.filter(
        F.transform(
            F.sequence(F.lit(0), F.greatest(n_batches - 1, F.lit(0))),
            lambda i: F.slice(F.col("_vals"), i * batch_size + 1, batch_size),
        ),
        lambda b: F.size(b) > 0,
    )
    return (
        df.groupBy(*keys)
        .agg(values.alias("_vals"))
        .select(*keys, F.explode(batches).alias(out))
    )


def approx_distinct(df: DataFrame, keys: Sequence[str], col: str, rsd: float = 0.05, out: str = "approx_nd") -> DataFrame:
    """Beam ``ApproximateUnique``: HyperLogLog++ sketch, mergeable across
    partitions (the scale path for distinct counts — never exact-count 100 TB
    unless asked)."""
    return df.groupBy(*keys).agg(F.approx_count_distinct(col, rsd).alias(out))


def approx_quantiles(df: DataFrame, keys: Sequence[str], col: str, probs: Sequence[float], accuracy: int = 10000, out: str = "quantiles") -> DataFrame:
    """Beam ``ApproximateQuantiles``: Greenwald-Khanna-style mergeable sketch."""
    return df.groupBy(*keys).agg(
        F.percentile_approx(col, list(probs), accuracy).alias(out)
    )


def hll_partial_sketches(
    df: DataFrame, keys: Sequence[str], col: str, lg_config_k: int = 12
) -> DataFrame:
    """Materialized, MERGEABLE distinct-count sketches (Datasketches HLL,
    binary column) — the incremental-distinct pattern: build one sketch per
    fine-grained partition (e.g. per day), persist them, and answer any
    coarser rollup later by unioning sketches instead of re-reading 100 TB
    of raw events. Storage is O(groups × 2^lg_config_k) bytes."""
    return df.groupBy(*keys).agg(
        F.hll_sketch_agg(col, F.lit(lg_config_k)).alias("sketch")
    )


def hll_rollup_estimate(
    sketches: DataFrame, keys: Sequence[str], out: str = "approx_nd"
) -> DataFrame:
    """Roll partial sketches up to coarser keys: union + estimate. The
    shuffle carries one sketch per input group (KBs), never raw rows."""
    return sketches.groupBy(*keys).agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias(out)
    )


def rolling_distinct_hll(
    events: DataFrame,
    ts_col: str = "ts",
    id_col: str = "user_id",
    window_days: int = 7,
    lg_config_k: int = 12,
    out: str = "active_7d_approx",
) -> DataFrame:
    """Trailing-window distinct count via mergeable HLL sketches — the
    100 TB form of the rolling-DAU metric (q_rolling_distinct keeps the
    exact small-scale anchor; VERDICT r2 #6).

    One pass builds a KB-sized sketch per day (partial aggs combine
    map-side, so the day shuffle carries sketches, not users); the
    trailing window is then a day-grid × day-sketch range join — at most
    |days|² KB-rows, regardless of corpus size — unioned and estimated
    per grid day. The exact plan's range join grows with user-days
    (O(users × days)); this one's input is O(days), which is what lets
    the same report run on any event volume. Error bound vs exact is
    asserted in tests (< 5% at the fixture's per-window cardinalities,
    the standard HLL ~1.6%/√(2^lg_k) regime)."""
    days = events.select(
        F.date_trunc("day", F.col(ts_col)).alias("day"), F.col(id_col)
    )
    partials = hll_partial_sketches(days, ["day"], id_col, lg_config_k)
    joined = partials.select("day").alias("d").join(
        partials.alias("u"),
        (F.col("u.day") <= F.col("d.day"))
        & (F.col("u.day") > F.col("d.day") - F.expr(f"INTERVAL {window_days} DAYS")),
    )
    return joined.groupBy(F.col("d.day").alias("day")).agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).cast("long").alias(out)
    )


def sample_fixed_global(df: DataFrame, n: int, seed: int = 42) -> DataFrame:
    """Beam ``Sample.FixedSizeGlobally``: uniform-ish n via seeded rand order.
    (TakeOrdered over rand() — avoids full-sort; nondeterministic across
    partition layouts, hence rows-only checked.)"""
    return df.orderBy(F.rand(seed)).limit(n)


def weighted_sample(
    df: DataFrame, weight_col: str, id_col: str, k: int, *, seed: int = 0
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (SURVEY §2.3
    Sample family; Efraimidis-Spirakis A-ES): each row draws a uniform
    u ∈ [0, 1) from ``xxhash64(id, seed)`` (reproducible — no RNG state,
    no partition-layout dependence, unlike ``rand()``) and scores
    u^(1/weight); the global top-k scores are the sample, with inclusion
    probability proportional to weight.

    Scale: compiles to TakeOrderedAndProject — per-partition top-k then a
    k-row merge on the driver side of the exchange; no global sort, no
    shuffle of the corpus. Rows with weight ≤ 0 are excluded (they carry
    zero sampling mass; 1/0 would NaN-poison the order). Exactly replayable
    off-Spark from the same hash (tests/test_operators.py does)."""
    u = (
        F.shiftrightunsigned(F.xxhash64(F.col(id_col), F.lit(seed)), 11).cast("double")
        / F.lit(float(1 << 53))
    )
    key = F.pow(u, 1.0 / F.col(weight_col))
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("_skey", key)
        .orderBy(F.col("_skey").desc(), F.col(id_col))
        .limit(k)
        .drop("_skey")
    )
