"""Aggregation queries (SURVEY.md §2.3), backed by ``operators.aggregations``."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import aggregations as agg
from ..session import table
from ._registry import register


@register(
    "q_agg_sum",
    driver=False,  # kept: tests pin its one-exchange CombinePerKey plan
    oracle="""
SELECT l_returnflag,
       round(sum(l_quantity), 2)      AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_price
FROM lineitem GROUP BY l_returnflag
""",
)
def q_agg_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CombinePerKey(sum) — map-side partial agg, one shuffle on 3 keys."""
    return agg.combine_per_key(
        table(spark, sf_dir, "lineitem"),
        ["l_returnflag"],
        sum_qty=F.round(F.sum("l_quantity"), 2),
        sum_price=F.round(F.sum("l_extendedprice"), 2),
    )


@register(
    "q_topk_per_key",
    driver=False,  # rotated off r8 (VERDICT r7 #1): Top family proven r1-r7
    oracle="""
SELECT l_returnflag, l_orderkey, l_linenumber, round(l_extendedprice, 2) AS price, rn
FROM (
  SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
         CAST(row_number() OVER (PARTITION BY l_returnflag
              ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS INTEGER) AS rn
  FROM lineitem
) WHERE rn <= 3
""",
)
def q_topk_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top.PerKey(3) via row_number ≤ k → WindowGroupLimit: each map task
    keeps only its local top-3 per key before the shuffle (the 100 TB plan)."""
    l = table(spark, sf_dir, "lineitem")
    top = agg.top_k_per_key(
        l,
        ["l_returnflag"],
        [F.col("l_extendedprice").desc(), F.col("l_orderkey"), F.col("l_linenumber")],
        3,
    )
    return top.select(
        "l_returnflag", "l_orderkey", "l_linenumber",
        F.round("l_extendedprice", 2).alias("price"), "rn",
    )


@register(
    "q_latest_per_key",
    oracle="""
SELECT user_id, round(arg_max(value, ts), 2) AS latest, max(ts) AS max_ts
FROM events GROUP BY user_id
""",
    driver=False,  # rotated off r6 (VERDICT r5 #4): §2.3 keeps 5+ driver slots
)
def q_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest.PerKey via max_by — single shuffle, no window/self-join."""
    out = agg.latest_per_key(table(spark, sf_dir, "events"), ["user_id"], "value", "ts")
    return out.select("user_id", F.round("latest", 2).alias("latest"), "max_ts")


@register(
    "q_cube",
    driver=False,  # rotated off r8: grouping-sets family proven r2-r7
    oracle="""
SELECT o_orderstatus, o_orderpriority, count(*) AS n, round(sum(o_totalprice), 2) AS total
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All grouping-set combinations over status × priority."""
    o = table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@register(
    "q_agg_combine",
    oracle="""
SELECT l_linestatus                        AS grp,
       count(*)                            AS n,
       round(min(l_extendedprice), 2)      AS min_price,
       round(max(l_extendedprice), 2)      AS max_price,
       count(DISTINCT l_partkey)           AS nd_parts,
       round(sum(l_quantity), 2)           AS sum_qty,
       round(avg(l_extendedprice), 6)      AS avg_price
FROM lineitem GROUP BY l_linestatus
UNION ALL
SELECT '<global>',
       count(*),
       round(min(l_extendedprice), 2),
       round(max(l_extendedprice), 2),
       count(DISTINCT l_partkey),
       round(sum(l_quantity), 2),
       round(avg(l_extendedprice), 6)
FROM lineitem
""",
)
def q_agg_combine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CombinePerKey + CombineGlobally in one driver row (SURVEY §2.3; its
    plan also proves Count.PerElement's keyed count and Mean.PerKey): the same
    multi-accumulator combine (count/min/max/exact-distinct/sum/mean) keyed
    by linestatus, unioned with the whole-dataset form tagged '<global>'.
    Both arms are single-shuffle partial+final HashAggregates; the global arm
    reduces to one row per partition before the 1-row final."""
    l = table(spark, sf_dir, "lineitem")
    aggs = dict(
        n=F.count("*"),
        min_price=F.round(F.min("l_extendedprice"), 2),
        max_price=F.round(F.max("l_extendedprice"), 2),
        nd_parts=F.countDistinct("l_partkey"),
        sum_qty=F.round(F.sum("l_quantity"), 2),
        avg_price=F.round(F.avg("l_extendedprice"), 6),
    )
    per_key = agg.combine_per_key(l, ["l_linestatus"], **aggs).withColumnRenamed(
        "l_linestatus", "grp"
    )
    global_ = agg.combine_globally(l, **aggs).select(
        F.lit("<global>").alias("grp"), *aggs.keys()
    )
    return per_key.unionByName(global_)


@register(
    "q_groupbykey_batches",
    oracle="""
WITH per_key AS (
  SELECT user_id,
         list(event_type ORDER BY event_type)  AS et,
         list_sort(list(DISTINCT event_type))  AS ets,
         list(event_id ORDER BY event_id)      AS ids
  FROM events GROUP BY user_id
)
SELECT user_id, 'values' AS tag, 0 AS batch_idx, array_to_string(et, ',') AS vals
FROM per_key
UNION ALL
SELECT user_id, 'value_set', 0, array_to_string(ets, ',') FROM per_key
UNION ALL
SELECT user_id, 'batch',
       CAST(unnest(range(CAST(ceil(len(ids) / 50.0) AS BIGINT))) AS INTEGER),
       array_to_string(
         unnest(list_transform(range(1, CAST(ceil(len(ids) / 50.0) AS BIGINT) + 1),
                               i -> ids[(i - 1) * 50 + 1 : i * 50])), ',')
FROM per_key
""",
    driver=False,  # rotated off r6 (VERDICT r5 #4): GroupIntoBatches stays local-hash
)
def q_groupbykey_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GroupByKey (ToList + ToSet accumulators) AND GroupIntoBatches(50) in
    one tagged driver row (SURVEY §2.3). Arms: 'values' = sorted per-key list,
    'value_set' = sorted distinct set, 'batch' = sorted ids chunked to ≤50
    with batch_idx from posexplode. All lists serialized to CSV strings in
    both engines (driver canonicalizer, VERDICT r1 #2)."""
    e = table(spark, sf_dir, "events")
    # ONE combine produces all three accumulators, materialized once: the
    # three arms prune different columns, which defeats ReusedExchange, so
    # without the persist each arm re-scans and re-shuffles the fact table.
    # The grouped result is O(distinct keys) — caching it is the 100 TB
    # shape (scan + shuffle the facts once, fan the arms off the tiny agg).
    grouped = agg.combine_per_key(
        e,
        ["user_id"],
        _values=F.array_join(F.array_sort(F.collect_list("event_type")), ","),
        _set=F.array_join(F.array_sort(F.collect_set("event_type")), ","),
        _v=F.array_sort(F.collect_list("event_id")),
    ).persist()
    values_arm = grouped.select(
        "user_id", F.lit("values").alias("tag"),
        F.lit(0).alias("batch_idx"), F.col("_values").alias("vals"),
    )
    set_arm = grouped.select(
        "user_id", F.lit("value_set").alias("tag"),
        F.lit(0).alias("batch_idx"), F.col("_set").alias("vals"),
    )
    n_batches = F.ceil(F.size("_v") / F.lit(50)).cast("int")
    chunks = F.filter(
        F.transform(
            F.sequence(F.lit(0), F.greatest(n_batches - 1, F.lit(0))),
            lambda i: F.slice(F.col("_v"), i * 50 + 1, 50),
        ),
        lambda b: F.size(b) > 0,
    )
    batch_arm = grouped.select(
        "user_id", F.posexplode(chunks).alias("batch_idx", "_chunk")
    ).select(
        "user_id", F.lit("batch").alias("tag"), "batch_idx",
        F.array_join(F.transform("_chunk", lambda x: x.cast("string")), ",").alias("vals"),
    )
    return values_arm.unionByName(set_arm).unionByName(batch_arm)


@register("q_hll_rollup", driver=False)  # rows-only: sketch estimates are engine-specific
def q_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental distinct-count via MATERIALIZED mergeable sketches
    (SURVEY §2.3 ApproximateUnique, the 100 TB operational form): build one
    Datasketches-HLL partial per (event_type, day) — what a daily pipeline
    persists — then answer the per-event_type rollup by sketch UNION +
    estimate, never re-reading raw events. The rollup shuffle carries one
    KB-sized sketch per group. Estimate-vs-exact error asserted in
    tests/test_operators.py::test_hll_rollup_accuracy."""
    e = table(spark, sf_dir, "events")
    days = e.select("event_type", F.date_trunc("day", F.col("ts")).alias("day"), "user_id")
    partials = agg.hll_partial_sketches(days, ["event_type", "day"], "user_id")
    return agg.hll_rollup_estimate(partials, ["event_type"], out="approx_users")


@register("q_approx_sample", driver=False)  # rows-only: sketch estimates + seeded sampling; off the driver surface since r3 (can't earn a hash-green row — VERDICT r2 #1), recall/property proofs live in pytest
def q_approx_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The approximate/sampling combiner family in one tagged rows-only
    driver row (SURVEY §2.3): 'hll' = per-event-type HyperLogLog++ distinct
    users, 'quantiles' = per-orderstatus approx percentile sketch (values
    serialized to CSV — raw arrays crash even the driver's rows-only count),
    'sample' = Sample.FixedSizeGlobally(100) of customers, reported as one
    row carrying n=100, 'sample_per_key' = Sample.FixedSizePerKey(10) counts
    per event_type (WindowGroupLimit — per-partition pre-truncation). All
    mergeable-sketch shapes — the 100 TB path for distincts/percentiles
    where exact forms (q_agg_combine nd_parts, q_agg_stats percentiles) are
    the small-scale anchors."""
    hll = agg.approx_distinct(
        table(spark, sf_dir, "events"), ["event_type"], "user_id"
    ).select(
        F.col("event_type").alias("key"), F.lit("hll").alias("tag"),
        F.col("approx_nd").cast("long").alias("n"), F.lit("").alias("vals"),
    )
    quant = agg.approx_quantiles(
        table(spark, sf_dir, "orders"), ["o_orderstatus"], "o_totalprice", [0.5, 0.9, 0.99]
    ).select(
        F.col("o_orderstatus").alias("key"), F.lit("quantiles").alias("tag"),
        F.lit(0).cast("long").alias("n"),
        F.array_join(F.transform("quantiles", lambda x: x.cast("string")), ",").alias("vals"),
    )
    sample = agg.sample_fixed_global(table(spark, sf_dir, "customer"), 100).agg(
        F.count("*").alias("_n")
    ).select(
        F.lit("<global>").alias("key"), F.lit("sample").alias("tag"),
        F.col("_n").alias("n"), F.lit("").alias("vals"),
    )
    from ..operators.packing import sample_fixed_per_key

    per_key_sample = (
        sample_fixed_per_key(table(spark, sf_dir, "events"), ["event_type"], 10)
        .groupBy("event_type")
        .agg(F.count("*").alias("_n"))
        .select(
            F.col("event_type").alias("key"), F.lit("sample_per_key").alias("tag"),
            F.col("_n").alias("n"), F.lit("").alias("vals"),
        )
    )
    return hll.unionByName(quant).unionByName(sample).unionByName(per_key_sample)


@register(
    "q_data_quality",  # driver slot since r3: oracle-backed (swapped in for q_approx_sample)
    oracle="""
WITH a AS (
  SELECT count(*) AS n,
    CAST(count(*) FILTER (WHERE o_orderkey IS NULL) AS BIGINT) AS orderkey_not_null,
    CAST(count(*) FILTER (WHERE o_orderstatus IS NULL
                            OR o_orderstatus NOT IN ('F','O','P')) AS BIGINT) AS status_in_set,
    CAST(count(*) FILTER (WHERE o_totalprice IS NULL
                            OR NOT (o_totalprice > 0 AND o_totalprice < 100000)) AS BIGINT) AS totalprice_range,
    CAST(count(*) FILTER (WHERE o_orderpriority IS NULL
                            OR NOT regexp_matches(o_orderpriority, '^[1-5]-')) AS BIGINT) AS priority_format,
    CAST(count(o_orderkey) - count(DISTINCT o_orderkey) AS BIGINT) AS o_orderkey_unique
  FROM orders
)
SELECT check_name, violations, n AS n_rows,
       CASE WHEN violations = 0 THEN 1 ELSE 0 END AS passed
FROM (
  SELECT 'orderkey_not_null' AS check_name, orderkey_not_null AS violations, n FROM a
  UNION ALL SELECT 'status_in_set', status_in_set, n FROM a
  UNION ALL SELECT 'totalprice_range', totalprice_range, n FROM a
  UNION ALL SELECT 'priority_format', priority_format, n FROM a
  UNION ALL SELECT 'o_orderkey_unique', o_orderkey_unique, n FROM a
)
""",
)
def q_data_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality report (operators.quality, Deequ-style):
    completeness, set-membership, range, regex-format and uniqueness checks
    over orders, ALL computed in one aggregate pass (validating 100 TB costs
    one scan). totalprice_range is deliberately tight so a failing check's
    violation count is exercised, not just zeros."""
    from ..operators.quality import check_constraints

    o = table(spark, sf_dir, "orders")
    return check_constraints(
        o,
        {
            "orderkey_not_null": F.col("o_orderkey").isNotNull(),
            "status_in_set": F.col("o_orderstatus").isin("F", "O", "P"),
            "totalprice_range": (F.col("o_totalprice") > 0) & (F.col("o_totalprice") < 100000),
            "priority_format": F.col("o_orderpriority").rlike("^[1-5]-"),
        },
        unique=["o_orderkey"],
    )


@register(
    "q_salted_agg",
    driver=False,  # extra scale pattern beyond SURVEY §2 — pytest-only
    oracle="""
SELECT event_type,
       count(*)                                                    AS n,
       round(CAST(sum(CAST(value AS DECIMAL(9,2))) AS DOUBLE), 2)  AS sum_value,
       round(min(value), 2)                                        AS min_value,
       round(max(value), 2)                                        AS max_value
FROM events GROUP BY event_type
""",
)
def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof two-stage CombinePerKey (operators.skew.salted_aggregate,
    scale_notes.md "Skew"): partial agg on (event_type, salt), final on
    event_type — row-identical to the direct groupBy, which is exactly what
    the oracle checks. events' 5 event_types over 32 shuffle partitions IS
    the pathological shape: at 100 TB one hot key would otherwise fill a
    single reducer; salting spreads it over n_salts reducers and the final
    stage sees only n_salts rows per key. value sums use exact decimal
    (order-independent — parity cannot depend on reduction order, which
    salting deliberately changes)."""
    from ..operators import skew

    e = table(spark, sf_dir, "events")
    out = skew.salted_aggregate(
        e,
        ["event_type"],
        F.col("event_id"),
        8,
        n=("event_id", "count"),
        sum_value=(F.col("value").cast("decimal(9,2)"), "sum"),
        min_value=("value", "min"),
        max_value=("value", "max"),
    )
    return out.select(
        "event_type",
        "n",
        F.round(F.col("sum_value").cast("double"), 2).alias("sum_value"),
        F.round("min_value", 2).alias("min_value"),
        F.round("max_value", 2).alias("max_value"),
    )


@register(
    "q_histogram",
    driver=False,  # extra §2.3 analytics shape — pytest-only
    oracle="""
SELECT event_type,
       CAST(floor(value / 10) AS BIGINT)            AS bin,
       round(CAST(floor(value / 10) AS BIGINT) * CAST(10.0 AS DOUBLE), 1)  AS bin_lo,
       count(*)                                     AS n
FROM events
GROUP BY 1, 2, 3
""",
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram (the classic profile/dashboard aggregate):
    bin = floor(value/width), counted per (event_type, bin). One partial+
    final hash aggregate — at 100 TB the map-side combine reduces each
    partition to (types × bins) rows before the single shuffle, so the
    reduce stage sees KBs regardless of input size. Spark floor→LONG vs
    DuckDB floor→DOUBLE: the oracle casts (oracle-parity-gotchas)."""
    e = table(spark, sf_dir, "events")
    b = F.floor(F.col("value") / 10)
    return e.groupBy(
        F.col("event_type"),
        b.alias("bin"),
        F.round(b * 10.0, 1).alias("bin_lo"),
    ).agg(F.count("*").alias("n"))


@register(
    "q_histogram_equidepth",
    driver=False,  # extra §2.3 analytics shape — pytest-only oracle
    oracle="""
SELECT event_type, CAST(band AS INTEGER) AS band,
       CAST(count(*) AS BIGINT) AS n,
       round(min(value), 6)     AS lo,
       round(max(value), 6)     AS hi
FROM (
  SELECT event_type, value,
         ntile(10) OVER (PARTITION BY event_type ORDER BY value, event_id) AS band
  FROM events WHERE value IS NOT NULL
)
GROUP BY event_type, band
""",
)
def q_histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram — q_histogram's quantile-bucket sibling (the
    profiling shape optimizers and drift monitors want: every band holds
    ~n/10 rows, band edges ARE the deciles). ntile over the (value,
    event_id) total order makes band assignment deterministic in both
    engines (ties broken by id; NULLs filtered — Spark sorts them first,
    DuckDB last). One shuffle on event_type for the window, then a
    partial+final agg; at 100 TB swap exact ntile for the percentile
    sketch (q_approx_sample family) when a single key's rows exceed one
    partition's sort budget."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return (
        e.select("event_type", "value", F.ntile(10).over(w).alias("band"))
        .groupBy("event_type", "band")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("value"), 6).alias("lo"),
            F.round(F.max("value"), 6).alias("hi"),
        )
    )


#: portable 48-bit hash from the first 12 md5 nibbles — DuckDB has no conv(),
#: so the oracle expands the hex digits positionally
_MD5_U48 = (
    "("
    + " + ".join(
        f"(strpos('0123456789abcdef', substr(md5(CAST({{id}} AS VARCHAR)), {i + 1}, 1))-1)"
        f" * {16 ** (11 - i)}"
        for i in range(12)
    )
    + ")"
)


@register(
    "q_kmv_sketch",
    driver=True,  # §2.3 sketch family: set-op estimation — rotated in r11 (wave 6)
    oracle=f"""
WITH ue AS (
  SELECT event_type, user_id FROM events
  GROUP BY event_type, user_id HAVING count(*) >= 14
), hs AS (
  SELECT DISTINCT event_type, {_MD5_U48.format(id='user_id')} AS h FROM ue
), sk AS (
  SELECT event_type, h FROM (
    SELECT event_type, h,
           row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
    FROM hs
  ) WHERE rk <= 32
), tp AS (
  SELECT a.event_type AS t1, b.event_type AS t2
  FROM (SELECT DISTINCT event_type FROM ue) a
  JOIN (SELECT DISTINCT event_type FROM ue) b ON a.event_type < b.event_type
), merged AS (
  SELECT t1, t2, h FROM (
    SELECT t1, t2, h,
           row_number() OVER (PARTITION BY t1, t2 ORDER BY h) AS rk
    FROM (
      SELECT DISTINCT t1, t2, h FROM (
        SELECT tp.t1, tp.t2, sk.h FROM tp JOIN sk ON sk.event_type = tp.t1
        UNION ALL
        SELECT tp.t1, tp.t2, sk.h FROM tp JOIN sk ON sk.event_type = tp.t2
      )
    )
  ) WHERE rk <= 32
), est AS (
  SELECT m.t1, m.t2,
         CAST(count(*) AS BIGINT) AS k_used,
         CAST(sum(CASE WHEN s1.h IS NOT NULL AND s2.h IS NOT NULL
                       THEN 1 ELSE 0 END) AS BIGINT) AS k_inter
  FROM merged m
  LEFT JOIN sk s1 ON s1.event_type = m.t1 AND s1.h = m.h
  LEFT JOIN sk s2 ON s2.event_type = m.t2 AND s2.h = m.h
  GROUP BY m.t1, m.t2
), exact AS (
  SELECT tp.t1, tp.t2,
         CAST(count(e2.user_id) AS BIGINT) AS n_inter,
         (SELECT count(*) FROM ue WHERE event_type = tp.t1) AS n1,
         (SELECT count(*) FROM ue WHERE event_type = tp.t2) AS n2
  FROM tp
  JOIN ue e1 ON e1.event_type = tp.t1
  LEFT JOIN ue e2 ON e2.event_type = tp.t2 AND e2.user_id = e1.user_id
  GROUP BY tp.t1, tp.t2
)
SELECT est.t1, est.t2, k_used,
       round(k_inter / CAST(k_used AS DOUBLE), 6)            AS jaccard_est,
       round(n_inter / CAST(n1 + n2 - n_inter AS DOUBLE), 6) AS jaccard_exact
FROM est JOIN exact ON est.t1 = exact.t1 AND est.t2 = exact.t2
""",
)
def q_kmv_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values / bottom-k) sketch Jaccard between the user
    sets of every event-type pair — the SET-OPERATION sketch the HLL/CMS
    family can't provide: mergeable bottom-k signatures support
    union/intersection/Jaccard estimation, the backbone of audience-overlap
    and cross-corpus-contamination estimates. Estimate = fraction of the
    merged bottom-k present in BOTH sketches; exact Jaccard computed
    alongside as the error anchor (they coincide when a set is smaller
    than k — the fixture's small strata make several pairs exact, which is
    itself the KMV property under test).

    The hash is the PORTABLE md5-slice (48 bits, same trick as the
    pure-SQL CMS and stratified sampling) so DuckDB replays the exact
    sketch. Scale: sketches are k rows per key built by WindowGroupLimit
    (partial bottom-k before the shuffle); pair estimation touches only
    O(pairs × k) sketch rows — audience overlap across thousands of
    segments never rescans the raw events."""
    e = table(spark, sf_dir, "events")
    from pyspark.sql import Window

    ue = (
        e.groupBy("event_type", "user_id")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") >= 14)
        .select("event_type", "user_id")
    )
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 12), 16, 10
    ).cast("long")
    hs = ue.select("event_type", h.alias("h")).distinct()
    wk = Window.partitionBy("event_type").orderBy("h")
    sk = (
        hs.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= 32)
        .select("event_type", "h")
    )
    types = ue.select("event_type").distinct()
    tp = (
        types.select(F.col("event_type").alias("t1"))
        .crossJoin(types.select(F.col("event_type").alias("t2")))
        .filter(F.col("t1") < F.col("t2"))
    )
    m1 = tp.join(F.broadcast(sk), F.col("event_type") == F.col("t1")).select("t1", "t2", "h")
    m2 = tp.join(F.broadcast(sk), F.col("event_type") == F.col("t2")).select("t1", "t2", "h")
    wp = Window.partitionBy("t1", "t2").orderBy("h")
    merged = (
        m1.unionByName(m2)
        .distinct()
        .withColumn("rk", F.row_number().over(wp))
        .filter(F.col("rk") <= 32)
        .select("t1", "t2", "h")
    )
    s1 = sk.select(F.col("event_type").alias("st1"), F.col("h").alias("h1"))
    s2 = sk.select(F.col("event_type").alias("st2"), F.col("h").alias("h2"))
    est = (
        merged.join(
            F.broadcast(s1),
            (F.col("t1") == F.col("st1")) & (F.col("h") == F.col("h1")),
            "left",
        )
        .drop("st1")
        .join(
            F.broadcast(s2),
            (F.col("t2") == F.col("st2")) & (F.col("h") == F.col("h2")),
            "left",
        )
        .drop("st2")
        .groupBy("t1", "t2")
        .agg(
            F.count("*").alias("k_used"),
            F.sum(
                F.when(
                    F.col("h1").isNotNull() & F.col("h2").isNotNull(), 1
                ).otherwise(0)
            ).alias("k_inter"),
        )
    )
    e1 = ue.select(F.col("event_type").alias("t1"), "user_id")
    e2 = ue.select(F.col("event_type").alias("et2"), F.col("user_id").alias("u2"))
    sizes = ue.groupBy("event_type").agg(F.count("*").alias("n"))
    inter = (
        tp.join(e1, "t1")
        .join(
            e2,
            (F.col("t2") == F.col("et2")) & (F.col("user_id") == F.col("u2")),
            "left",
        )
        .drop("et2")
        .groupBy("t1", "t2")
        .agg(F.count("u2").alias("n_inter"))
    )
    n1 = sizes.select(F.col("event_type").alias("t1"), F.col("n").alias("n1"))
    n2 = sizes.select(F.col("event_type").alias("t2"), F.col("n").alias("n2"))
    exact = inter.join(F.broadcast(n1), "t1").join(F.broadcast(n2), "t2")
    return est.join(exact, ["t1", "t2"]).select(
        "t1",
        "t2",
        "k_used",
        F.round(F.col("k_inter") / F.col("k_used").cast("double"), 6).alias(
            "jaccard_est"
        ),
        F.round(
            F.col("n_inter")
            / (F.col("n1") + F.col("n2") - F.col("n_inter")).cast("double"),
            6,
        ).alias("jaccard_exact"),
    )


@register(
    "q_quantile_histogram_rollup",
    # driver slot since r9 (VERDICT r8 #1): first sketch-rollup driver grade
    oracle="""
WITH part AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         CAST(floor(value / 8.0) AS BIGINT) AS bin,
         CAST(count(*) AS BIGINT) AS c
  FROM events WHERE value IS NOT NULL
  GROUP BY 1, 2
), h AS (
  SELECT bin, CAST(sum(c) AS BIGINT) AS c,
         CAST(sum(sum(c)) OVER (ORDER BY bin
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum
  FROM part GROUP BY bin
), tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS n FROM h
), e50 AS (
  SELECT h.bin * 8.0 + 8.0 * (0.5 * tot.n - (h.cum - h.c)) / h.c AS est
  FROM h, tot
  WHERE h.bin = (SELECT min(bin) FROM h, tot WHERE cum >= 0.5 * n)
), e90 AS (
  SELECT h.bin * 8.0 + 8.0 * (0.9 * tot.n - (h.cum - h.c)) / h.c AS est
  FROM h, tot
  WHERE h.bin = (SELECT min(bin) FROM h, tot WHERE cum >= 0.9 * n)
), ex AS (
  SELECT CAST(quantile_cont(value, 0.5) AS DOUBLE) AS x50,
         CAST(quantile_cont(value, 0.9) AS DOUBLE) AS x90
  FROM events WHERE value IS NOT NULL
)
SELECT tot.n AS n,
       round(e50.est, 6) AS est_p50,
       round(e90.est, 6) AS est_p90,
       round(ex.x50, 6) AS exact_p50,
       round(ex.x90, 6) AS exact_p90
FROM tot, e50, e90, ex
""",
)
def q_quantile_histogram_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable QUANTILE sketch — completing the sketch-rollup family
    (q_hll_rollup = distinct, q_heavy_hitters = frequency, q_kmv_sketch =
    set ops): per-day equi-width histogram PARTIALS (bin width 8) are the
    mergeable state; the rollup is a plain per-bin count sum, and p50/p90
    come from linear interpolation inside the first bin whose cumulative
    count crosses q·n. Every step is exact integer/double arithmetic, so
    unlike GK/KLL the estimate itself is oracle-hash-checkable; the exact
    percentiles ride along in the same row, making the ≤ bin-width error
    bound directly visible (and pinned in pytest).

    Scale: the per-day partial is what you'd persist per partition/segment
    at 100 TB (a KB per day regardless of row count); merging k days is
    summing k tiny histograms — associative, re-aggregable along any
    rollup dimension, the property approx_percentile's GK state does not
    expose in SQL. Plan: two partial+final aggs + a 64-row window."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    part = (
        e.groupBy(
            F.date_trunc("day", "ts").alias("day"),
            F.floor(F.col("value") / 8.0).cast("long").alias("bin"),
        )
        .agg(F.count("*").alias("c"))
    )
    h = (
        part.groupBy("bin")
        .agg(F.sum("c").alias("c"))
        .withColumn(
            "cum",
            F.sum("c").over(
                Window.orderBy("bin").rowsBetween(
                    Window.unboundedPreceding, 0
                )
            ),
        )
    )
    tot = h.agg(F.sum("c").alias("n"))
    hn = h.crossJoin(F.broadcast(tot))

    def est(qf: float):
        target = F.lit(qf) * F.col("n")
        qual = hn.filter(F.col("cum") >= target).agg(
            F.min("bin").alias("qbin")
        )
        return (
            hn.join(F.broadcast(qual), F.col("bin") == F.col("qbin"))
            .select(
                (
                    F.col("bin") * 8.0
                    + 8.0 * (target - (F.col("cum") - F.col("c"))) / F.col("c")
                ).alias("est")
            )
        )

    ex = e.agg(
        F.percentile("value", F.lit(0.5)).cast("double").alias("x50"),
        F.percentile("value", F.lit(0.9)).cast("double").alias("x90"),
    )
    return (
        tot.crossJoin(F.broadcast(est(0.5).select(F.col("est").alias("e50"))))
        .crossJoin(F.broadcast(est(0.9).select(F.col("est").alias("e90"))))
        .crossJoin(F.broadcast(ex))
        .select(
            "n",
            F.round("e50", 6).alias("est_p50"),
            F.round("e90", 6).alias("est_p90"),
            F.round("x50", 6).alias("exact_p50"),
            F.round("x90", 6).alias("exact_p90"),
        )
    )


@register(
    "q_fk_integrity",
    driver=False,  # §2.4 lake-integrity audit — pytest oracle
    oracle="""
SELECT 'lineitem.l_orderkey -> orders' AS relationship,
       CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_child,
       CAST((SELECT count(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_orderkey = l.l_orderkey))
            AS BIGINT) AS n_orphans
UNION ALL
SELECT 'orders.o_custkey -> customer',
       CAST((SELECT count(*) FROM orders) AS BIGINT),
       CAST((SELECT count(*) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = o.o_custkey))
            AS BIGINT)
UNION ALL
SELECT 'customer.c_nationkey -> nation',
       CAST((SELECT count(*) FROM customer) AS BIGINT),
       CAST((SELECT count(*) FROM customer c
             WHERE NOT EXISTS (SELECT 1 FROM nation n
                               WHERE n.n_nationkey = c.c_nationkey))
            AS BIGINT)
UNION ALL
SELECT 'lineitem.l_partkey -> part',
       CAST((SELECT count(*) FROM lineitem) AS BIGINT),
       CAST((SELECT count(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM part p
                               WHERE p.p_partkey = l.l_partkey))
            AS BIGINT)
""",
)
def q_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit — the lake-maintenance companion to
    q_data_quality: for each declared foreign-key relationship, count the
    child rows whose key has no parent (LEFT ANTI join). Run after every
    backfill/compaction; a nonzero orphan count means a partial write or
    out-of-order publish.

    Scale: each relationship is one anti join — parent keys deduplicate to
    a key-only projection (broadcast when small, else shuffled semi
    structure), and the child side streams through with no wide rows. The
    four audits share nothing, so they parallelize as independent jobs;
    counts are 1-row results unioned driver-free."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    p = table(spark, sf_dir, "part")

    def audit(name, child, key, parent, pkey):
        orphans = child.join(
            parent.select(pkey).distinct(),
            child[key] == parent[pkey],
            "left_anti",
        )
        return (
            child.agg(F.count("*").alias("n_child"))
            .crossJoin(orphans.agg(F.count("*").alias("n_orphans")))
            .select(
                F.lit(name).alias("relationship"), "n_child", "n_orphans"
            )
        )

    out = audit("lineitem.l_orderkey -> orders", li, "l_orderkey", o, "o_orderkey")
    for args in [
        ("orders.o_custkey -> customer", o, "o_custkey", c, "c_custkey"),
        ("customer.c_nationkey -> nation", c, "c_nationkey", n, "n_nationkey"),
        ("lineitem.l_partkey -> part", li, "l_partkey", p, "p_partkey"),
    ]:
        out = out.unionByName(audit(*args))
    return out


@register(
    "q_incremental_agg",
    driver=False,  # §2.3 incremental-maintenance extension — pytest oracle
    oracle="""
WITH state AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(28,6)) AS s
  FROM events
  WHERE ts < TIMESTAMP '2024-01-25' AND value IS NOT NULL
  GROUP BY event_type
), delta AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(28,6)) AS s
  FROM events
  WHERE ts >= TIMESTAMP '2024-01-25' AND value IS NOT NULL
  GROUP BY event_type
), merged AS (
  SELECT event_type, CAST(sum(n) AS BIGINT) AS n,
         CAST(sum(s) AS DECIMAL(28,6)) AS s
  FROM (SELECT * FROM state UNION ALL SELECT * FROM delta)
  GROUP BY event_type
), fullr AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(28,6)) AS s
  FROM events WHERE value IS NOT NULL GROUP BY event_type
)
SELECT m.event_type, m.n,
       round(CAST(m.s AS DOUBLE), 6) AS total,
       round(CAST(m.s AS DOUBLE) / m.n, 6) AS mean,
       (m.n = f.n AND m.s = f.s) AS matches_full_recompute
FROM merged m JOIN fullr f ON f.event_type = m.event_type
""",
)
def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance — the re-aggregability pattern
    behind every incremental ETL: a persisted per-key STATE (count + exact
    DECIMAL sum, built from history) absorbs a DELTA batch by a plain
    key-merge, and the result provably equals the full recompute (the
    query emits the equality check itself as a column — TRUE everywhere
    because count/sum are associative over DECIMAL; avg derives at read
    time, never stored). The same state shape serves HLL (q_hll_rollup)
    and histogram-quantile (q_quantile_histogram_rollup) partials.

    Scale: the delta shuffle is O(delta), not O(history) — the whole
    point; the state table stays |keys|-sized and re-aggregable along any
    dimension. At 100 TB this runs per partition/day with the state as a
    bucketed table (sources/layout.py)."""
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cut = F.lit("2024-01-25").cast("timestamp")

    def partial(df):
        return df.groupBy("event_type").agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("decimal(28,6)")
            .alias("s"),
        )

    state = partial(e.filter(F.col("ts") < cut))
    delta = partial(e.filter(F.col("ts") >= cut))
    merged = (
        state.unionByName(delta)
        .groupBy("event_type")
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("s").cast("decimal(28,6)").alias("s"),
        )
    )
    full = partial(e).select(
        F.col("event_type"), F.col("n").alias("fn"), F.col("s").alias("fs")
    )
    return merged.join(full, "event_type").select(
        "event_type",
        "n",
        F.round(F.col("s").cast("double"), 6).alias("total"),
        F.round(F.col("s").cast("double") / F.col("n"), 6).alias("mean"),
        ((F.col("n") == F.col("fn")) & (F.col("s") == F.col("fs"))).alias(
            "matches_full_recompute"
        ),
    )


# --------------------------------------------------------------------------
# Salted exact distinct (round 7)
# --------------------------------------------------------------------------
@register(
    "q_salted_distinct",
    driver=False,  # rotated off r11 (wave 6) — stays oracle-backed in the local sweep
    # driver slot r8-r10 (VERDICT r7 #1), rotated off r11 (wave 6): skew-safe aggregation family
    oracle="""
WITH salted AS (
  SELECT event_type, user_id % 16 AS _salt,
         CAST(count(DISTINCT user_id) AS BIGINT) AS du,
         CAST(count(*) AS BIGINT) AS n
  FROM events WHERE value IS NOT NULL
  GROUP BY 1, 2
)
SELECT event_type,
       CAST(sum(du) AS BIGINT) AS distinct_users,
       CAST(sum(n) AS BIGINT) AS n_events
FROM salted GROUP BY event_type
""",
)
def q_salted_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT user_id) per event_type via DISJOINT salting —
    the skew-safe two-phase pattern for exact distincts (SURVEY §2.3).
    Plain count-distinct on a hot key ships EVERY distinct value of that
    key to one reducer (map-side combine can't shrink a distinct set the
    way it shrinks a sum); salting by ``user_id % 16`` splits each key's
    value space into 16 DISJOINT shards — so per-shard distinct counts SUM
    to the exact global distinct (no overlap by construction), and the hot
    key's state is bounded at 1/16 per task. This is Spark's own
    two-level expand strategy for multiple distincts, made explicit.

    The salt must be a pure function of the DISTINCT column (not random!)
    or the shards overlap and the sum overcounts — the classic salted-
    distinct bug, pinned by the oracle hash.

    Scale: shuffle 1 on (type, salt) — 16× the key cardinality, each
    partition holding a disjoint value shard; shuffle 2 sums 16 longs per
    key. State per task drops from |distinct(hot key)| to 1/16 of it,
    and arbitrarily further with a wider salt."""
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    salted = e.groupBy(
        "event_type", (F.col("user_id") % 16).alias("_salt")
    ).agg(
        F.countDistinct("user_id").cast("long").alias("du"),
        F.count("*").cast("long").alias("n"),
    )
    return salted.groupBy("event_type").agg(
        F.sum("du").cast("long").alias("distinct_users"),
        F.sum("n").cast("long").alias("n_events"),
    )


# --------------------------------------------------------------------------
# Incremental view maintenance: join view via delta rules (round 7)
# --------------------------------------------------------------------------
@register(
    "q_ivm_join",
    # driver slot since r8 (VERDICT r7 #1): incremental view maintenance
    oracle="""
WITH base AS (
  SELECT o.o_custkey, o.o_totalprice FROM orders o WHERE o.o_orderkey % 10 <> 7
), delta AS (
  SELECT o.o_custkey, o.o_totalprice FROM orders o WHERE o.o_orderkey % 10 = 7
), v0 AS (
  SELECT c.c_mktsegment AS seg,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round(b.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_c
  FROM base b JOIN customer c ON b.o_custkey = c.c_custkey
  GROUP BY 1
), dv AS (
  SELECT c.c_mktsegment AS seg,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round(d.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_c
  FROM delta d JOIN customer c ON d.o_custkey = c.c_custkey
  GROUP BY 1
)
SELECT coalesce(v0.seg, dv.seg) AS seg,
       CAST(coalesce(v0.n, 0) AS BIGINT) AS n_base,
       CAST(coalesce(dv.n, 0) AS BIGINT) AS n_delta,
       CAST(coalesce(v0.n, 0) + coalesce(dv.n, 0) AS BIGINT) AS n_total,
       CAST(coalesce(v0.rev_c, 0) + coalesce(dv.rev_c, 0) AS BIGINT)
         AS rev_total_c
FROM v0 FULL OUTER JOIN dv ON v0.seg = dv.seg
""",
)
def q_ivm_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance of a join-aggregate view by delta
    rules (SURVEY §2.3 warehouse tier; the join sibling of
    q_incremental_agg): the materialized view V = γ(orders ⋈ customer) is
    maintained through an insert batch as V₁ = V₀ ⊎ γ(Δorders ⋈ customer)
    — the classic ΔQ = ΔA ⋈ B rule for an insert-only delta on one input.
    The split is deterministic (orderkey mod 10 = 7 plays the delta batch)
    so the oracle replays the identical maintenance and the hash proves
    merge(view, delta-view) ≡ full recompute, key by key, in exact cents.

    Scale: THE reason views are maintained, not recomputed — the base is
    never rescanned; the work is γ(Δ ⋈ dim) (delta-sized, dim broadcast)
    plus a |view|-sized merge. At 100 TB with a 0.1 % daily delta that is
    a 1000× scan saving per refresh; the merge is a co-partitioned
    outer-join on the view key."""
    o = table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        (F.col("o_orderkey") % 10 == 7).alias("is_delta"),
    )
    from ..session import broadcast_if_small

    c = table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("seg")
    )

    def view_of(rows):
        # customer GROWS with the corpus — broadcast only while it fits
        # (the census test rejects an unconditional hint here; at 100 TB
        # this becomes a plain co-partitioned hash join automatically)
        return (
            rows.join(broadcast_if_small(c), rows.o_custkey == c.c_custkey)
            .groupBy("seg")
            .agg(
                F.count("*").cast("long").alias("n"),
                F.sum("cents").cast("long").alias("rev_c"),
            )
        )

    v0 = view_of(o.filter(~F.col("is_delta")))
    dv = view_of(o.filter(F.col("is_delta"))).select(
        F.col("seg").alias("dseg"),
        F.col("n").alias("dn"),
        F.col("rev_c").alias("drev_c"),
    )
    merged = v0.join(dv, v0.seg == dv.dseg, "full_outer")
    z = F.lit(0).cast("long")
    return merged.select(
        F.coalesce("seg", "dseg").alias("seg"),
        F.coalesce("n", z).cast("long").alias("n_base"),
        F.coalesce("dn", z).cast("long").alias("n_delta"),
        (F.coalesce("n", z) + F.coalesce("dn", z)).cast("long").alias("n_total"),
        (F.coalesce("rev_c", z) + F.coalesce("drev_c", z))
        .cast("long")
        .alias("rev_total_c"),
    )
