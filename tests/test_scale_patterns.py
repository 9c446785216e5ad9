"""Scale-pattern tests (scale_notes.md): bucketed co-located joins,
partition-pruned layout, and salting — each asserted at the PLAN level plus
a correctness check against the unsalted/unbucketed equivalent."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from apachebeam_python_spark.operators import skew
from apachebeam_python_spark.plans import inspect as P
from apachebeam_python_spark.session import table
from apachebeam_python_spark.sources import layout
from apachebeam_python_spark.sources.io import write_parquet


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir):
    layout.write_bucketed(
        table(spark, sf_dir, "orders"), "orders_b", ["o_orderkey"], 8,
        sort_cols=["o_orderkey"],
    )
    layout.write_bucketed(
        table(spark, sf_dir, "lineitem"), "lineitem_b", ["l_orderkey"], 8,
        sort_cols=["l_orderkey"],
    )
    return "orders_b", "lineitem_b"


def test_bucketed_join_has_no_shuffle(spark, sf_dir, bucketed_tables):
    """Fact-fact join on the bucket key: zero Exchange (co-located)."""
    o, l = (layout.read_table(spark, t) for t in bucketed_tables)
    joined = l.join(o, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "l_orderkey", "l_extendedprice", "o_totalprice"
    )
    assert P.count_exchanges(joined) == 0, P.executed_plan(joined)
    # and it's the same result as the plain join
    plain = (
        table(spark, sf_dir, "lineitem")
        .join(table(spark, sf_dir, "orders"), F.col("l_orderkey") == F.col("o_orderkey"))
        .count()
    )
    assert joined.count() == plain


def test_partitioned_layout_prunes(spark, sf_dir, tmp_path):
    """Directory partitioning by the dominant filter column → partition
    pruning (the non-matching partitions never reach the scan)."""
    path = str(tmp_path / "events_by_type")
    write_parquet(
        table(spark, sf_dir, "events"), path, partition_by=("event_type",)
    )
    df = spark.read.parquet(path).filter(F.col("event_type") == "purchase")
    plan = P.formatted(df)
    assert "PartitionFilters" in plan
    assert "event_type" in [l for l in plan.splitlines() if "PartitionFilters" in l][0]
    n_all = table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase").count()
    assert df.count() == n_all


def test_salted_aggregate_matches_plain(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    salted = skew.salted_aggregate(
        e, ["event_type"], F.col("event_id"), 8,
        n=("event_id", "count"),
        total=("value", "sum"),
        vmax=("value", "max"),
    ).withColumn("total", F.round("total", 2))
    plain = e.groupBy("event_type").agg(
        F.count("event_id").alias("n"),
        F.round(F.sum("value"), 2).alias("total"),
        F.max("value").alias("vmax"),
    )
    assert {tuple(r) for r in salted.collect()} == {tuple(r) for r in plain.collect()}


def test_salted_join_matches_plain(spark, sf_dir):
    l = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey", "l_quantity")
    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    salted = skew.salted_join(l, o, "l_orderkey", F.col("l_partkey"), 4)
    plain = l.join(o, "l_orderkey")
    assert salted.count() == plain.count()
    assert sorted(salted.columns) == sorted(plain.columns)


def test_salted_collect_matches_plain(spark, sf_dir):
    """collect_list is the aggregate that genuinely needs salting (no
    map-side combine); the salted two-stage form must produce the same
    sorted per-key list."""
    e = table(spark, sf_dir, "events")
    salted = skew.salted_aggregate(
        e, ["event_type"], F.col("event_id"), 8, ids=("event_id", "collect")
    )
    plain = e.groupBy("event_type").agg(
        F.array_sort(F.collect_list("event_id")).alias("ids")
    )
    assert {(r.event_type, tuple(r.ids)) for r in salted.collect()} == {
        (r.event_type, tuple(r.ids)) for r in plain.collect()
    }


def test_write_clustered_files_have_disjoint_ranges(spark, sf_dir, tmp_path):
    """Clustered layout: parquet files carry disjoint min/max ranges of the
    cluster column (verified from the file footers), enabling file skipping."""
    import glob

    import pyarrow.parquet as pq

    path = str(tmp_path / "orders_clustered")
    layout.write_clustered(table(spark, sf_dir, "orders"), path, "o_totalprice", 4)
    ranges = []
    for f in glob.glob(f"{path}/part-*.parquet"):
        md = pq.ParquetFile(f).metadata
        idx = [md.schema.column(i).name for i in range(md.num_columns)].index("o_totalprice")
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mins.append(st.min); maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    assert len(ranges) >= 2
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint: a range filter can skip whole files


def test_zorder_key_interleaves():
    """Morton key of (x=0b11, y=0b00) at 2 bits = 0b1010."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    row = spark.range(1).select(
        layout.zorder_key([F.lit(3), F.lit(0)], bits=2).alias("k"),
        layout.zorder_key([F.lit(0), F.lit(3)], bits=2).alias("k2"),
        layout.zorder_key([F.lit(3), F.lit(3)], bits=2).alias("k3"),
    ).collect()[0]
    assert (row.k, row.k2, row.k3) == (0b1010, 0b0101, 0b1111)


def test_zorder_layout_skips_files_on_both_dims(spark, sf_dir, tmp_path):
    """Z-ordered layout: a selective filter on EITHER interleaved column
    touches a strict subset of files (per-file min/max would skip the
    rest), where single-column clustering only serves its own column."""
    o = table(spark, sf_dir, "orders").select(
        F.pmod("o_custkey", F.lit(1024)).alias("x"),
        F.pmod("o_orderkey", F.lit(1024)).alias("y"),
        "o_totalprice",
    )
    if o.count() < 10_000:
        # the skipping property is statistical: with ~200 rows per file the
        # per-file min/max ranges aren't tight enough to assert on (sf0.001
        # fast loop) — the default sf0.01 run exercises the real claim
        pytest.skip("z-order skipping assertion needs >= 10k rows")
    zpath = str(tmp_path / "orders_zorder")
    cpath = str(tmp_path / "orders_cluster_x")
    layout.write_zordered(o, zpath, ["x", "y"], num_files=8, bits=10)
    layout.write_clustered(o, cpath, "x", num_files=8)

    def files_touched(path, cond):
        df = spark.read.parquet(path).filter(cond)
        return df.select(F.input_file_name()).distinct().count()

    z_x = files_touched(zpath, F.col("x") < 32)
    z_y = files_touched(zpath, F.col("y") < 32)
    c_y = files_touched(cpath, F.col("y") < 32)
    total = spark.read.parquet(zpath).select(F.input_file_name()).distinct().count()
    assert total == 8
    # z-order: both dimensions skip; x-clustered: y-filter hits every file.
    # A 1/32-selective filter constrains one high Morton bit per level, so at
    # most half the key space matches — but repartitionByRange boundaries come
    # from SAMPLED quantiles, and a boundary landing inside a matching prefix
    # region spills a handful of rows into one neighboring file. Allow that
    # single straddler; the claim under test is "both dims skip ~half the
    # files" vs the control's "one dim hits every file".
    assert z_x <= total // 2 + 1, f"x-filter touched {z_x}/{total} z-ordered files"
    assert z_y <= total // 2 + 1, f"y-filter touched {z_y}/{total} z-ordered files"
    assert c_y == 8, f"control: expected y-filter to touch all x-clustered files, got {c_y}"


def test_schema_merge_and_bounded_files(spark, tmp_path):
    """Lake-maintenance knobs: mergeSchema unions evolved footers (old
    files read as NULL for new columns); maxRecordsPerFile bounds output
    file sizes so no task emits an unsplittable straggler file."""
    from apachebeam_python_spark.sources.io import read_parquet, write_parquet

    path = str(tmp_path / "evolving")
    v1 = spark.range(5).select(F.col("id").alias("k"))
    v2 = spark.range(5, 10).select(F.col("id").alias("k"), F.lit("x").alias("extra"))
    write_parquet(v1, path)
    write_parquet(v2, path, mode="append")
    merged = read_parquet(spark, path, merge_schema=True)
    assert set(merged.columns) == {"k", "extra"}
    assert merged.filter(F.col("extra").isNull()).count() == 5

    bpath = str(tmp_path / "bounded_files")
    write_parquet(spark.range(100).repartition(1), bpath, max_records_per_file=10)
    files = spark.read.parquet(bpath).select(F.input_file_name()).distinct().count()
    assert files == 10


def test_dynamic_partition_overwrite_is_surgical(spark, sf_dir, tmp_path):
    """Backfilling one partition must not touch the others' files."""
    import glob

    path = str(tmp_path / "events_backfill")
    ev = table(spark, sf_dir, "events").withColumn(
        "etype", F.col("event_type")
    ).select("event_id", "user_id", "value", "etype")
    layout.overwrite_partition(ev, path, ["etype"])
    other_files_before = set(glob.glob(f"{path}/etype=view/*.parquet"))
    n_click = spark.read.parquet(path).filter("etype = 'click'").count()

    redo = ev.filter(F.col("etype") == "click").withColumn("value", F.col("value") * 0)
    layout.overwrite_partition(redo, path, ["etype"])
    after = spark.read.parquet(path)
    assert set(glob.glob(f"{path}/etype=view/*.parquet")) == other_files_before
    assert after.filter("etype = 'click'").count() == n_click
    assert after.filter("etype = 'click'").agg(F.sum("value")).first()[0] == 0
    assert after.filter("etype = 'view'").count() > 0


def test_compact_partition_reduces_files(spark, sf_dir, tmp_path):
    """Compaction collapses a many-file partition to target_files without
    changing its rows or touching sibling partitions."""
    import glob

    path = str(tmp_path / "events_compact")
    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "value", "event_type")
    # simulate incremental ingest: 8 small files per partition
    layout.overwrite_partition(ev.repartition(8), path, ["event_type"])
    before = len(glob.glob(f"{path}/event_type=click/*.parquet"))
    assert before == 8
    rows_before = spark.read.parquet(path).filter("event_type = 'click'").count()
    sibling_before = set(glob.glob(f"{path}/event_type=view/*.parquet"))

    layout.compact_partition(spark, path, "event_type = 'click'", target_files=1)
    assert len(glob.glob(f"{path}/event_type=click/*.parquet")) == 1
    assert spark.read.parquet(path).filter("event_type = 'click'").count() == rows_before
    assert set(glob.glob(f"{path}/event_type=view/*.parquet")) == sibling_before


def test_file_report_counts(spark, tmp_path):
    path = str(tmp_path / "file_report_demo")
    spark.range(100).repartition(4).write.mode("overwrite").parquet(path)
    rep = layout.file_report(spark, path).collect()
    assert len(rep) == 4
    assert sum(r.rows for r in rep) == 100
    assert all(r.bytes > 0 for r in rep)


def test_merge_upsert_idempotent(spark):
    from pyspark.sql import functions as F

    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 10), (3, "c", 10)], "k long, v string, ver long"
    )
    upd = spark.createDataFrame(
        [(2, "B", 20), (4, "d", 20)], "k long, v string, ver long"
    )
    merged = layout.merge_upsert(base, upd, ["k"], "ver")
    got = {(r.k, r.v, r.ver) for r in merged.collect()}
    assert got == {(1, "a", 10), (2, "B", 20), (3, "c", 10), (4, "d", 20)}
    # re-applying the same batch converges (update wins the version tie)
    again = layout.merge_upsert(merged, upd, ["k"], "ver")
    assert {(r.k, r.v, r.ver) for r in again.collect()} == got
    # stale update (older version) must NOT overwrite
    stale = spark.createDataFrame([(1, "STALE", 5)], "k long, v string, ver long")
    kept = layout.merge_upsert(merged, stale, ["k"], "ver")
    assert {(r.k, r.v, r.ver) for r in kept.collect()} == got


def test_aqe_splits_skewed_join_partition(spark):
    """The AQE skew-join path (scale_notes "Joins") actually fires: one key
    holding ~99% of the left side, broadcast disabled to force SMJ, and
    thresholds scaled down to fixture bytes — the final adaptive plan must
    mark the join skew-handled. At 100 TB this is the same mechanism with
    default thresholds; salting (test above) covers the cases AQE can't
    (aggregation, or a single key bigger than every split)."""
    from pyspark.sql import functions as F

    knobs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    saved = {k: spark.conf.get(k) for k in knobs}
    try:
        for k, v in knobs.items():
            spark.conf.set(k, v)
        left = (
            spark.range(0, 200_000)
            .withColumn(
                "k",
                F.when(F.col("id") % 100 < 99, F.lit(0)).otherwise(F.col("id")),
            )
            .withColumn("pad", F.lpad(F.lit("x"), 64, "y"))
        )
        right = spark.range(0, 1_000).withColumnRenamed("id", "k")
        j = left.join(right, "k")
        # collect() executes THIS DataFrame's own queryExecution (count()
        # or a sink would plan a fresh one), making its adaptive plan final
        assert len(j.collect()) > 0
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_runtime_bloom_filter_injection(spark, sf_dir):
    """Catalyst's runtime row-level filtering (InjectRuntimeFilter): a
    selective filter on the orders side of a shuffle join materializes a
    bloom filter that prunes lineitem rows BEFORE the shuffle —
    might_contain(...) lands in the fact scan's Filter. Locally the
    application-side size threshold must drop to 0 (the fixture is KBs);
    at 100 TB the 10GB default is exactly when this pays."""
    from pyspark.sql import functions as F

    from apachebeam_python_spark.session import table

    knobs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    saved = {k: spark.conf.get(k) for k in knobs}
    try:
        for k, v in knobs.items():
            spark.conf.set(k, v)
        l = table(spark, sf_dir, "lineitem")
        o = table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            l.join(o, l.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        assert len(j.collect()) == 1
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_ivf_layout_partition_prunes_probes(spark, sf_dir, tmp_path):
    """The IVF 'index lives in the table layout' claim (scale_notes /
    similarity.ivf_ann_topk docstring): write the corpus partitioned BY
    cell id, and a query's n_probe cells become partition filters — the
    probe physically reads only its cells' files."""
    from pyspark.sql import functions as F

    from apachebeam_python_spark.operators import similarity as SIM

    emb = table(spark, sf_dir, "embeddings")
    cents = SIM.ivf_centroids(emb, "embedding", "vec_id", 8).persist()
    cells = SIM._assign_cells(emb, cents, "embedding", "vec_id", probe=1)
    path = str(tmp_path / "emb_ivf_cells")
    cells.write.mode("overwrite").partitionBy("centroid_id").parquet(path)
    stored = spark.read.parquet(path)

    one_query = emb.orderBy("vec_id").limit(1)
    probe_cells = [
        r.centroid_id
        for r in SIM._assign_cells(
            one_query, cents, "embedding", "vec_id", probe=2
        ).collect()
    ]
    assert len(probe_cells) == 2
    probed = stored.filter(F.col("centroid_id").isin(probe_cells))
    plan = P.formatted(probed)
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "centroid_id" in pf[0], plan

    files_probed = probed.select(F.input_file_name()).distinct().count()
    files_total = stored.select(F.input_file_name()).distinct().count()
    assert files_probed < files_total, (files_probed, files_total)
    # and the pruned read returns exactly the probed cells' vectors
    expect = cells.filter(F.col("centroid_id").isin(probe_cells)).count()
    assert probed.count() == expect
    cents.unpersist()


def test_dynamic_partition_pruning_fires(spark, sf_dir, tmp_path):
    """Join-driven DYNAMIC partition pruning: when the fact table is
    directory-partitioned on the join key and the dim side arrives
    filtered, Spark injects a runtime pruning subquery into the fact
    scan's PartitionFilters — only the partitions matching the dim
    survive. The 100 TB pattern behind star joins over date-partitioned
    facts."""
    path = str(tmp_path / "events_by_type_dpp")
    write_parquet(
        table(spark, sf_dir, "events"), path, partition_by=("event_type",)
    )
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [("purchase", 1), ("click", 2)], "event_type string, weight int"
    ).filter(F.col("weight") == 1)
    joined = fact.join(dim, "event_type")
    plan = P.formatted(joined)
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "dynamicpruning" in pf[0], plan
    expected = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .count()
    )
    assert joined.count() == expected


def test_replicate_scaled_subset_keeps_join_strides_aligned(spark, sf_dir, tmp_path):
    """replicate_scaled's key strides come from the whole JOIN GROUP, not
    the replicated subset (round-5 review #4): replicating only lineitem
    must shift l_orderkey by the stride orders would use, so replica r of
    lineitem still joins replica r of an independently replicated orders."""
    from apachebeam_python_spark.sources.layout import replicate_scaled
    from apachebeam_python_spark.session import table as _t

    out_l = str(tmp_path / "only_lineitem")
    out_o = str(tmp_path / "only_orders")
    replicate_scaled(spark, sf_dir, out_l, copies=2, tables=["lineitem"])
    replicate_scaled(spark, sf_dir, out_o, copies=2, tables=["orders"])
    li = spark.read.parquet(f"{out_l}/lineitem.parquet")
    od = spark.read.parquet(f"{out_o}/orders.parquet")
    base_li = _t(spark, sf_dir, "lineitem").count()
    # every replicated lineitem row finds its order: inner join count is
    # exactly copies x base (stride mismatch would drop replica 1 entirely)
    joined = li.join(od, li.l_orderkey == od.o_orderkey).count()
    assert li.count() == 2 * base_li
    assert joined == 2 * base_li


def test_arrow_ipc_round_trip_preserves_nulls(spark, tmp_path):
    """NULL text must come back as NULL, not the string 'None' (round-5
    review #5)."""
    from pyspark.sql import functions as F

    from apachebeam_python_spark.sources.mlexport import (
        read_arrow_ipc,
        write_arrow_ipc,
    )

    df = spark.range(4).select(
        F.col("id"),
        F.when(F.col("id") % 2 == 0, F.concat(F.lit("t"), F.col("id"))).alias("text"),
        F.lit(0).alias("shard"),
    )
    out = str(tmp_path / "aipc")
    write_arrow_ipc(df, out, "id", "text", "shard")
    back = {r.id: r.text for r in read_arrow_ipc(spark, out).collect()}
    assert back == {0: "t0", 1: None, 2: "t2", 3: None}


# --------------------------------------------------------------------------
# Hot-key skew: the machinery proven on ACTUALLY skewed data (VERDICT r7 #3)
# --------------------------------------------------------------------------
@pytest.fixture(scope="module")
def hot_key_events(spark):
    """Synthetic skewed fixture: user_id 0 owns ~30% of all events; the
    rest spread uniformly over 5000 users. This is the distribution the
    uniform sf fixtures never produce, so every salting/AQE claim below
    is exercised against the pathology it was written for."""
    n = 120_000
    return (
        spark.range(n)
        .select(
            F.col("id").alias("event_id"),
            F.when(F.col("id") % 10 < 3, F.lit(0))
            .otherwise(F.col("id") % 5000 + 1)
            .alias("user_id"),
            (F.col("id") % 97).cast("double").alias("value"),
        )
        .persist()
    )


def _partition_rows(df, n_parts, *cols):
    """REAL shuffle-partition sizes: repartition on the would-be shuffle
    keys (same Murmur3 HashPartitioning a groupBy/join would use) and
    count rows per spark_partition_id — the task-input distribution."""
    sized = (
        df.repartition(n_parts, *cols)
        .withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid")
        .agg(F.count("*").alias("n"))
    )
    return [r.n for r in sized.collect()]


def test_salting_bounds_hot_key_task_input(spark, hot_key_events):
    """The task-balance assertion (VERDICT r7 #3): on a 30%-hot key the
    UNSALTED shuffle puts >= 30% of all rows into one task, while the
    salted layout's max task stays within a small factor of the mean.
    Measured on real shuffles (spark_partition_id after repartition on
    the exact key columns), not inferred from plans."""
    ev = hot_key_events
    n = ev.count()
    n_parts = 32
    mean = n / n_parts

    plain = _partition_rows(ev, n_parts, F.col("user_id"))
    assert max(plain) >= 0.30 * n, (
        f"fixture not skewed enough: max task {max(plain)} of {n}"
    )

    salted = ev.withColumn("_salt", F.pmod(F.hash("event_id"), F.lit(16)))
    balanced = _partition_rows(salted, n_parts, F.col("user_id"), F.col("_salt"))
    assert max(balanced) <= 3 * mean, (
        f"salted max task {max(balanced)} exceeds 3x mean {mean:.0f}: {sorted(balanced)[-5:]}"
    )
    # the unsalted twin genuinely does NOT meet the same bound
    assert max(plain) > 3 * mean


def test_salted_aggregate_correct_on_hot_key(spark, hot_key_events):
    """salted_aggregate must be row-identical to the plain agg ON SKEWED
    INPUT (the uniform-fixture test can't catch a hot-key-only bug such
    as salt-collision overcounting)."""
    ev = hot_key_events
    got = (
        skew.salted_aggregate(
            ev,
            ["user_id"],
            F.col("event_id"),
            16,
            n=("event_id", "count"),
            total=("value", "sum"),
            vmax=("value", "max"),
        )
        .withColumn("total", F.round("total", 2))
    )
    want = ev.groupBy("user_id").agg(
        F.count("event_id").alias("n"),
        F.round(F.sum("value"), 2).alias("total"),
        F.max("value").alias("vmax"),
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    # and the hot key's row is exactly right
    hot = {r.user_id: r.n for r in got.filter(F.col("user_id") == 0).collect()}
    assert hot[0] == ev.filter(F.col("user_id") == 0).count()


def test_salted_distinct_bounds_reducer_state(spark, hot_key_events):
    """q_salted_distinct's claim, measured: per-reducer distinct-state for
    the salted (key, value%16) grouping is ~1/16 of the unsalted key's
    distinct set — the state bound that makes exact COUNT(DISTINCT) safe
    when one grouping key dominates. Uses a single hot grouping key so
    ALL distinct users land on one reducer unsalted."""
    ev = hot_key_events.withColumn("event_type", F.lit("hot"))
    unsalted_state = (
        ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("du"))
        .collect()[0]
        .du
    )
    per_shard = (
        ev.groupBy("event_type", (F.col("user_id") % 16).alias("_salt"))
        .agg(F.countDistinct("user_id").alias("du"))
        .agg(F.max("du").alias("mx"), F.sum("du").alias("total"))
        .collect()[0]
    )
    assert per_shard.total == unsalted_state  # disjoint shards: exact sum
    assert per_shard.mx <= unsalted_state / 8  # state ~1/16, allow 2x slack


def test_skew_report_flags_hot_key(spark, hot_key_events):
    """skew_report is the measurement half of the salting decision — on
    the 30%-hot fixture it must say so: max_share ~0.3 and
    hot_partition_factor ~ 0.3*32 ~ 10 (>> the ~2 AQE-split threshold the
    docstring names)."""
    r = skew.skew_report(hot_key_events, ["user_id"]).collect()[0]
    assert 0.25 <= r.max_share <= 0.35, r
    assert r.hot_partition_factor > 5, r
    assert r.top_keys.split(",")[0] == "0"  # the hot key leads the report
    assert r.entropy_bits < r.uniform_bits  # far from uniform
