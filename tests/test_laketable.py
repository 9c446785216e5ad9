"""Snapshot/time-travel lake table (sources/laketable.py): commit
protocol, copy-on-write delete, manifest pruning, rollback, compaction,
vacuum, and the optimistic-concurrency rebase."""

from __future__ import annotations

import json
import os

import pytest

from apachebeam_python_spark.sources import laketable as LT


@pytest.fixture()
def tbl(spark, tmp_path):
    path = str(tmp_path / "tbl")
    df = spark.range(0, 100).selectExpr("id", "id * 2 AS v")
    # range partitioning gives files disjoint id spans, so predicates can
    # miss files — what the copy-on-write test needs to observe carry-over
    v = LT.create_table(df.repartitionByRange(4, "id"), path)
    assert v == 0
    return path


def _ids(spark, path, version=None):
    return sorted(
        r.id for r in LT.read_table(spark, path, version=version).select("id").collect()
    )


def test_create_append_time_travel(spark, tbl):
    assert _ids(spark, tbl) == list(range(100))
    v = LT.append(spark.range(100, 120).selectExpr("id", "id * 2 AS v"), tbl)
    assert v == 1
    assert _ids(spark, tbl) == list(range(120))
    # time travel: version 0 is untouched by the append
    assert _ids(spark, tbl, version=0) == list(range(100))
    assert [h["op"] for h in LT.history(tbl)] == ["create", "append"]
    assert [h["n_rows"] for h in LT.history(tbl)] == [100, 120]
    with pytest.raises(ValueError):
        LT.create_table(spark.range(1).selectExpr("id", "id AS v"), tbl)


def test_delete_where_is_copy_on_write(spark, tbl):
    """Files whose rows don't match the predicate must carry over
    UNCHANGED (same manifest paths); only hit files rewrite."""
    before = {e["path"] for e in LT._read_manifest(tbl, 0)["files"]}
    v = LT.delete_where(spark, tbl, "id < 10")
    assert v == 1
    after = {e["path"] for e in LT._read_manifest(tbl, 1)["files"]}
    carried = before & after
    assert carried, "untouched files should carry over by reference"
    assert _ids(spark, tbl) == list(range(10, 100))
    # old snapshot still intact (copy-on-write, not in-place)
    assert _ids(spark, tbl, version=0) == list(range(100))
    # deleting nothing is a no-op, not an empty commit
    assert LT.delete_where(spark, tbl, "id > 1000000") == 1


def test_manifest_stats_prune_files(spark, tmp_path):
    """Range-partitioned files have disjoint id ranges, so a point-range
    predicate must prune most files at the MANIFEST level (no footer
    reads)."""
    path = str(tmp_path / "pruned")
    df = spark.range(0, 1000).selectExpr("id", "id % 7 AS v").repartitionByRange(10, "id")
    LT.create_table(df, path)
    total = len(LT._read_manifest(path, 0)["files"])
    hit = LT.files_matching(path, "id", 150, 160)
    assert total == 10 and len(hit) <= 2
    # the pruned subset still contains every matching row
    got = sorted(
        r.id
        for r in spark.read.parquet(*[os.path.join(path, e["path"]) for e in hit])
        .where("id BETWEEN 150 AND 160")
        .collect()
    )
    assert got == list(range(150, 161))


def test_rollback_and_compact(spark, tbl):
    LT.append(spark.range(100, 200).selectExpr("id", "id * 2 AS v"), tbl)
    LT.delete_where(spark, tbl, "id >= 50")
    assert _ids(spark, tbl) == list(range(50))
    v = LT.rollback(tbl, 1)  # restore the post-append state
    assert v == 3 and _ids(spark, tbl) == list(range(200))
    # history is append-only: the bad version 2 is still readable
    assert _ids(spark, tbl, version=2) == list(range(50))
    n_before = len(LT._read_manifest(tbl, 3)["files"])
    LT.compact(spark, tbl, target_files=1)
    assert len(LT._read_manifest(tbl, 4)["files"]) == 1 < n_before
    assert _ids(spark, tbl) == list(range(200))  # logical no-op


def test_vacuum_drops_dead_files_keeps_current(spark, tbl):
    LT.delete_where(spark, tbl, "id < 50")
    LT.compact(spark, tbl, target_files=1)
    # retention window: young DATA files survive even when unreferenced
    # (so an in-flight writer's staged files are safe); manifests beyond
    # keep_last are dropped as requested
    assert LT.vacuum(tbl, keep_last=1) == 0
    removed = LT.vacuum(tbl, keep_last=1, retention_seconds=0)
    assert removed > 0
    assert _ids(spark, tbl) == list(range(50, 100))  # current still reads
    # round 8: vacuum persists history summaries before dropping manifests
    # (same as compact_manifests), so the error is the typed one
    with pytest.raises(ValueError, match="compacted away"):
        LT.read_table(spark, tbl, version=0)
    # dead commit dirs are fully gone, sidecars included
    data_root = os.path.join(tbl, "data")
    live_dirs = {
        os.path.dirname(e["path"]).split(os.sep)[-1]
        for e in LT._read_manifest(tbl, LT.current_version(tbl))["files"]
    }
    assert set(os.listdir(data_root)) == live_dirs


def test_delete_null_predicate_rows_survive(spark, tmp_path):
    """DELETE removes rows where the predicate is TRUE; NULL evaluations
    must survive regardless of whether their file was rewritten."""
    path = str(tmp_path / "nulls")
    df = spark.createDataFrame(
        [(1, 14), (2, None), (3, 5)], "id long, n_chars long"
    )
    LT.create_table(df.coalesce(1), path)  # one file → it WILL rewrite
    LT.delete_where(spark, path, "n_chars % 7 = 0")
    rows = {r.id for r in LT.read_table(spark, path).collect()}
    assert rows == {2, 3}  # the NULL row survived the rewrite


def test_delete_all_rows_leaves_readable_empty_table(spark, tmp_path):
    path = str(tmp_path / "empty")
    df = spark.range(10).selectExpr("id", "id AS v")
    LT.create_table(df, path)
    LT.delete_where(spark, path, "id >= 0")
    out = LT.read_table(spark, path)
    assert out.count() == 0 and [f.name for f in out.schema.fields] == ["id", "v"]
    # and the table comes back to life on append
    LT.append(spark.range(5).selectExpr("id", "id AS v"), path)
    assert _ids(spark, path) == list(range(5))


def test_snapshot_dependent_ops_conflict_instead_of_losing_updates(spark, tbl):
    """delete/merge/compact computed against a stale snapshot must raise,
    not silently drop a concurrent writer's commit."""
    import json as _json

    # concurrent winner publishes version 1 while our delete is in flight
    def pre_publish():
        m = LT._read_manifest(tbl, 0)
        with open(LT._version_file(tbl, 1), "x") as fh:
            _json.dump({**m, "version": 1, "op": "append"}, fh)

    pre_publish()
    with pytest.raises(LT.ConcurrentWriteError):
        # computed against version 0 via monkey: simulate by calling the
        # internal commit with a stale base
        LT._commit(tbl, lambda cur: cur, "delete", 0, None)
    # the real ops read the head themselves, so they succeed against v1
    assert LT.delete_where(spark, tbl, "id < 10") == 2


def test_merge_duplicate_source_keys_raises(spark, tbl):
    src = spark.createDataFrame([(5, 1), (5, 2)], "id long, v long")
    with pytest.raises(ValueError, match="duplicate"):
        LT.merge(spark, tbl, src, key="id")


def test_merge_upsert_latest_wins_and_prunes(spark, tbl):
    """MERGE: updates replace matched keys, inserts append, and files
    whose key-range stats miss the source batch carry over untouched."""
    before = {e["path"] for e in LT._read_manifest(tbl, 0)["files"]}
    # update batch confined to the first file's key range: the other
    # range-partitioned files' [min,max] stats miss it → carry over
    src = spark.createDataFrame([(5, 999), (7, 777)], "id long, v long")
    v = LT.merge(spark, tbl, src, key="id")
    assert v == 1
    rows = {r.id: r.v for r in LT.read_table(spark, tbl).collect()}
    assert rows[5] == 999 and rows[7] == 777
    assert rows[6] == 12 and len(rows) == 100  # neighbor untouched, no insert
    after = {e["path"] for e in LT._read_manifest(tbl, 1)["files"]}
    assert before & after, "stats-missed files should not rewrite"
    # mixed update+insert batch: matched key replaced, new key appended
    v = LT.merge(
        spark,
        tbl,
        spark.createDataFrame([(99, -1), (150, 300)], "id long, v long"),
        key="id",
    )
    rows = {r.id: r.v for r in LT.read_table(spark, tbl).collect()}
    assert rows[99] == -1 and rows[150] == 300 and len(rows) == 101
    # old snapshots unaffected (snapshot isolation)
    assert len(LT.read_table(spark, tbl, version=0).collect()) == 100
    # empty source is a no-op, not an empty commit
    assert LT.merge(spark, tbl, src.limit(0), key="id") == v


def test_change_feed_between_versions(spark, tbl):
    LT.append(spark.range(100, 110).selectExpr("id", "id * 2 AS v"), tbl)
    LT.append(spark.range(110, 115).selectExpr("id", "id * 2 AS v"), tbl)
    delta = sorted(r.id for r in LT.read_changes(spark, tbl, 0).select("id").collect())
    assert delta == list(range(100, 115))
    delta01 = sorted(
        r.id for r in LT.read_changes(spark, tbl, 0, 1).select("id").collect()
    )
    assert delta01 == list(range(100, 110))
    assert LT.read_changes(spark, tbl, 2, 2).count() == 0


def test_optimistic_commit_rebases_on_conflict(spark, tbl):
    """Simulate a concurrent winner: pre-publish version 1 manually; a
    subsequent append must rebase onto it and land at version 2 with the
    winner's files included."""
    winner_files = LT._read_manifest(tbl, 0)["files"][:1]  # pretend-overwrite
    with open(LT._version_file(tbl, 1), "x") as fh:
        json.dump({"version": 1, "op": "overwrite", "files": winner_files}, fh)
    v = LT.append(spark.range(500, 510).selectExpr("id", "id * 2 AS v"), tbl)
    assert v == 2
    m = LT._read_manifest(tbl, 2)
    paths = {e["path"] for e in m["files"]}
    assert {e["path"] for e in winner_files} <= paths
    # base is the winner's single file, not version 0's full set
    assert len(m["files"]) == len(winner_files) + sum(
        1 for e in m["files"] if e["path"] not in {w["path"] for w in winner_files}
    )
    got = sorted(r.id for r in LT.read_table(spark, tbl).select("id").collect())
    winner_ids = sorted(
        r.id
        for r in spark.read.parquet(
            *[os.path.join(tbl, e["path"]) for e in winner_files]
        ).collect()
    )
    assert got == sorted(winner_ids + list(range(500, 510)))


def test_stream_append_batch_exactly_once(spark, tmp_path):
    """append_stream_batch: replayed micro-batches skip; a real streaming
    query through foreachBatch lands every input row exactly once."""
    path = str(tmp_path / "streamtbl")
    b0 = spark.range(5).selectExpr("id", "id AS v")
    assert LT.append_stream_batch(b0, path, batch_id=0) == 0
    # replay of batch 0 (same id): no new version, no duplicate rows
    assert LT.append_stream_batch(b0, path, batch_id=0) == 0
    assert LT.append_stream_batch(
        spark.range(5, 8).selectExpr("id", "id AS v"), path, batch_id=1
    ) == 1
    assert sorted(r.id for r in LT.read_table(spark, path).collect()) == list(range(8))
    ops = [h["op"] for h in LT.history(path)]
    assert ops == ["stream-append", "stream-append"]

    # end-to-end: a rate-limited file stream drains into the table
    import shutil

    src = str(tmp_path / "src")
    spark.range(100).selectExpr("id", "id AS v").coalesce(1).write.parquet(src)
    stream = spark.readStream.schema("id long, v long").parquet(src)
    tbl2 = str(tmp_path / "streamtbl2")
    q = (
        stream.writeStream.foreachBatch(
            lambda df, bid: LT.append_stream_batch(df, tbl2, bid)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(r.id for r in LT.read_table(spark, tbl2).collect()) == list(range(100))
    shutil.rmtree(src, ignore_errors=True)


def test_merge_schema_evolution_add_column(spark, tbl):
    """Round-4 wave 2 (VERDICT r3 #9): a MERGE whose source carries a NEW
    column evolves the table schema — Delta's mergeSchema-on-write. The
    evolved schema lands in the manifest; carried-over old files are NOT
    rewritten yet read back with the new column as NULL; survivor rows in
    rewritten files also get NULL; source rows carry their values."""
    before = {e["path"] for e in LT._read_manifest(tbl, 0)["files"]}
    # key range [5, 20] stays inside the first range-partitioned file so the
    # other files' [min,max] stats miss the batch and must carry over
    src = spark.createDataFrame([(5, 999, "gold"), (20, 40, "bronze")],
                                "id long, v long, tier string")
    v = LT.merge(spark, tbl, src, key="id")
    out = LT.read_table(spark, tbl, version=v)
    assert [f.name for f in out.schema.fields] == ["id", "v", "tier"]
    rows = {r.id: (r.v, r.tier) for r in out.collect()}
    assert rows[5] == (999, "gold") and rows[20] == (40, "bronze")
    # survivor in a rewritten file and a row in a carried-over file: NULL tier
    assert rows[6] == (12, None) and rows[99] == (198, None)
    assert len(rows) == 100
    after = {e["path"] for e in LT._read_manifest(tbl, v)["files"]}
    assert before & after, "stats-missed files must carry over, not rewrite"
    # time travel still shows the ORIGINAL narrow schema
    assert [f.name for f in LT.read_table(spark, tbl, version=0).schema.fields] == ["id", "v"]


def test_merge_schema_evolution_source_missing_column(spark, tbl):
    """The other direction: a source MISSING a target column upserts with
    NULL for that column (whenNotMatchedInsertAll semantics) and the table
    schema is unchanged."""
    src = spark.createDataFrame([(7,), (300,)], "id long")
    v = LT.merge(spark, tbl, src, key="id")
    rows = {r.id: r.v for r in LT.read_table(spark, tbl, version=v).collect()}
    assert rows[7] is None and rows[300] is None and rows[8] == 16
    assert len(rows) == 101


def test_vacuum_concurrent_reader_safety(spark, tbl):
    """Round-4 wave 2 (VERDICT r3 #9): vacuum's retention window is what
    keeps a CONCURRENT reader of an old snapshot alive. A reader plan built
    against version 0 before vacuum must still collect afterwards when the
    dead files are inside the retention window; with retention 0 (test-only
    override) the same stale-snapshot read fails — the documented
    destructive edge, observed not argued."""
    v0_reader = LT.read_table(spark, tbl, version=0)
    LT.overwrite(spark.range(0, 10).selectExpr("id", "id AS v"), tbl)

    # retention window covers the just-created files → nothing removed,
    # the in-flight old-snapshot reader completes
    assert LT.vacuum(tbl, keep_last=1, retention_seconds=3600) == 0
    assert v0_reader.count() == 100

    # retention 0: version-0 files genuinely removed; a NEW stale reader
    # of the dropped snapshot now fails (manifest gone) — and the current
    # snapshot is intact
    removed = LT.vacuum(tbl, keep_last=1, retention_seconds=0)
    assert removed > 0
    import pytest as _pytest

    with _pytest.raises(Exception):
        LT.read_table(spark, tbl, version=0).count()
    assert LT.read_table(spark, tbl).count() == 10


def test_schema_evolution_survives_other_writers(spark, tbl):
    """Round-4 review findings #1/#2: after a schema-evolving MERGE, (a) a
    narrow-schema append must NOT narrow the manifest schema back — evolved
    column values stay readable; (b) delete_where over the mixed-schema
    snapshot must restage survivors WITH the evolved column (an unschema'd
    read could adopt a narrow footer and silently drop the values); (c) the
    change feed reads with the target manifest schema."""
    src = spark.createDataFrame([(5, 999, "gold"), (20, 40, "bronze")],
                                "id long, v long, tier string")
    LT.merge(spark, tbl, src, key="id")

    # (a) narrow append — schema stays wide, tier values intact
    LT.append(spark.createDataFrame([(500, 1000)], "id long, v long"), tbl)
    out = LT.read_table(spark, tbl)
    assert [f.name for f in out.schema.fields] == ["id", "v", "tier"]
    rows = {r.id: r.tier for r in out.collect()}
    assert rows[5] == "gold" and rows[500] is None

    # (b) delete in the evolved file's key range forces a survivor rewrite:
    # the restaged file must carry tier
    LT.delete_where(spark, tbl, "id = 20")
    out2 = LT.read_table(spark, tbl)
    rows2 = {r.id: r.tier for r in out2.collect()}
    assert 20 not in rows2 and rows2[5] == "gold"
    assert [f.name for f in out2.schema.fields] == ["id", "v", "tier"]

    # (c) change feed across the evolution carries the wide schema
    feed = LT.read_changes(spark, tbl, from_version=0)
    assert "tier" in feed.columns
    assert {r.tier for r in feed.filter(feed.id == 5).collect()} == {"gold"}


def test_stream_append_keeps_evolved_schema(spark, tmp_path):
    """A narrow streaming micro-batch after evolution must not hide the
    evolved column (same union rule as batch append)."""
    path = str(tmp_path / "evostream")
    LT.create_table(
        spark.createDataFrame([(1, 10)], "id long, v long").coalesce(1), path
    )
    LT.merge(spark, path,
             spark.createDataFrame([(2, 20, "x")], "id long, v long, tag string"),
             key="id")
    LT.append_stream_batch(
        spark.createDataFrame([(3, 30)], "id long, v long").coalesce(1), path, batch_id=0
    )
    out = LT.read_table(spark, path)
    assert [f.name for f in out.schema.fields] == ["id", "v", "tag"]
    rows = {r.id: r.tag for r in out.collect()}
    assert rows == {1: None, 2: "x", 3: None}


# --------------------------------------------------------------------------
# Lake wave 3 (round 5, VERDICT r4 #9): restore both directions, branching,
# manifest compaction
# --------------------------------------------------------------------------
def test_restore_rolls_back_and_forward_append_only(spark, tbl):
    """restore() is direction-agnostic and append-only: back past a bad
    commit, then FORWARD again once it's adjudicated fine — every
    restored-over version stays readable (audit history never rewritten)."""
    LT.append(spark.range(100, 120).selectExpr("id", "id * 2 AS v"), tbl)  # v1
    LT.append(spark.range(120, 130).selectExpr("id", "id * 2 AS v"), tbl)  # v2
    v3 = LT.restore(tbl, 0)  # roll back past both appends
    assert v3 == 3
    assert _ids(spark, tbl) == list(range(100))
    v4 = LT.restore(tbl, 2)  # roll FORWARD: v2 was fine after all
    assert v4 == 4
    assert _ids(spark, tbl) == list(range(130))
    # audit trail intact: every version still readable, ops recorded
    assert _ids(spark, tbl, version=1) == list(range(120))
    assert _ids(spark, tbl, version=3) == list(range(100))
    assert [h["op"] for h in LT.history(tbl)] == [
        "create", "append", "append", "restore", "restore",
    ]


def test_shallow_clone_branches_without_copying(spark, tbl):
    """A clone reads the source snapshot without data movement; divergent
    writes on each side never leak into the other."""
    import glob

    br = tbl + "_branch"
    assert LT.shallow_clone(spark, tbl, br) == 0
    assert _ids(spark, br) == list(range(100))
    # zero-copy: the branch's data/ dir holds nothing yet
    assert glob.glob(os.path.join(br, "data", "*", "*.parquet")) == []
    # diverge: branch gets a risky append, source gets its own
    LT.append(spark.range(500, 510).selectExpr("id", "id * 2 AS v"), br)
    LT.append(spark.range(200, 203).selectExpr("id", "id * 2 AS v"), tbl)
    assert _ids(spark, br) == list(range(100)) + list(range(500, 510))
    assert _ids(spark, tbl) == list(range(100)) + list(range(200, 203))
    # branch writes staged under the BRANCH root only
    assert glob.glob(os.path.join(br, "data", "*", "*.parquet")) != []
    # cloning over an existing table refuses
    with pytest.raises(ValueError, match="already exists"):
        LT.shallow_clone(spark, tbl, br)


def test_shallow_clone_of_old_version_is_a_branch_point(spark, tbl):
    LT.append(spark.range(100, 120).selectExpr("id", "id * 2 AS v"), tbl)  # v1
    br = tbl + "_b0"
    LT.shallow_clone(spark, tbl, br, version=0)
    assert _ids(spark, br) == list(range(100))


def test_compact_manifests_squashes_log_keeps_audit(spark, tbl):
    """After compaction: old manifest files are gone, current reads and NEW
    commits still work, history() reports every squashed version from the
    checkpoint, and time-traveling to a squashed version raises a clear
    error naming the earliest travelable one."""
    for i in range(1, 8):  # v1..v7
        LT.append(
            spark.range(100 + i, 101 + i).selectExpr("id", "id * 2 AS v"), tbl
        )
    assert LT.compact_manifests(tbl, keep_last=3) == 5  # v0..v4 squashed
    # squashed manifests are really gone from the log dir
    live = sorted(
        f for f in os.listdir(os.path.join(tbl, "_log")) if f.endswith(".json")
    )
    assert live == ["00000005.json", "00000006.json", "00000007.json", "_checkpoint.json"]
    # current snapshot unaffected
    assert len(_ids(spark, tbl)) == 107
    # audit survives: all 8 versions in history, oldest first
    hs = LT.history(tbl)
    assert [h["version"] for h in hs] == list(range(8))
    assert hs[0]["op"] == "create" and hs[0]["n_rows"] == 100
    # squashed time travel raises the informative error
    with pytest.raises(ValueError, match="compacted away.*earliest.*5"):
        LT.read_table(spark, tbl, version=2)
    # the log keeps working: new commits number past the checkpoint,
    # and a SECOND compaction merges summaries instead of losing them
    v8 = LT.append(spark.range(300, 301).selectExpr("id", "id * 2 AS v"), tbl)
    assert v8 == 8
    assert LT.compact_manifests(tbl, keep_last=2) == 2  # v5, v6
    assert [h["version"] for h in LT.history(tbl)] == list(range(9))
    assert LT.compact_manifests(tbl, keep_last=10) == 0  # nothing to squash


# --------------------------------------------------------------------------
# Lake wave 4 (round 5): merge-on-read deletion vectors
# --------------------------------------------------------------------------
def test_delete_mor_never_rewrites_data_files(spark, tbl):
    before = [e["path"] for e in LT._read_manifest(tbl, 0)["files"]]
    v = LT.delete_where_mor(spark, tbl, "id < 10")
    assert v == 1
    m = LT._read_manifest(tbl, 1)
    assert [e["path"] for e in m["files"]] == before, "MOR must not rewrite"
    # exactly the files whose spans admit id<10 carry a vector
    assert any(e.get("dv") for e in m["files"])
    assert _ids(spark, tbl) == list(range(10, 100))
    # time travel: the pre-delete snapshot still sees every row
    assert _ids(spark, tbl, version=0) == list(range(100))
    # physical rows in history are unchanged (documented MOR semantics)
    assert LT.history(tbl)[-1]["n_rows"] == 100


def test_delete_mor_vectors_accumulate(spark, tbl):
    LT.delete_where_mor(spark, tbl, "id < 10")
    v = LT.delete_where_mor(spark, tbl, "id >= 90")
    assert v == 2
    assert _ids(spark, tbl) == list(range(10, 90))
    # a file hit twice carries both sidecar refs
    m = LT._read_manifest(tbl, 2)
    n_refs = sum(len(e.get("dv", [])) for e in m["files"])
    assert n_refs >= 2
    # NULL-predicate rows survive (TRUE-only deletion)
    v = LT.delete_where_mor(spark, tbl, "CASE WHEN id = 50 THEN NULL ELSE id = 55 END")
    assert _ids(spark, tbl) == [i for i in range(10, 90) if i != 55]
    # no-match predicate: no commit
    assert LT.delete_where_mor(spark, tbl, "id > 1000000") == v


def test_compact_purges_deletion_vectors(spark, tbl):
    LT.delete_where_mor(spark, tbl, "id % 2 = 0")
    assert _ids(spark, tbl) == list(range(1, 100, 2))
    v = LT.compact(spark, tbl)
    m = LT._read_manifest(tbl, v)
    assert not any(e.get("dv") for e in m["files"]), "compact must purge DVs"
    assert _ids(spark, tbl) == list(range(1, 100, 2))
    # physical == logical again after the purge
    assert LT.history(tbl)[-1]["n_rows"] == 50


def test_mor_then_cow_delete_compose(spark, tbl):
    """A COW delete after a MOR delete must respect the vectors (it reads
    through read_table semantics for survivors of rewritten files)."""
    LT.delete_where_mor(spark, tbl, "id < 10")
    LT.delete_where(spark, tbl, "id >= 95")
    assert _ids(spark, tbl) == list(range(10, 95))


def test_cow_rewrite_of_dv_file_does_not_resurrect(spark, tbl):
    """The critical composition: a COW delete that rewrites a file which
    already carries a deletion vector must apply the vector when staging
    survivors — otherwise MOR-deleted rows resurrect."""
    LT.delete_where_mor(spark, tbl, "id < 10")       # vector on file [0..24]
    LT.delete_where(spark, tbl, "id >= 15 AND id < 20")  # rewrites SAME file
    assert _ids(spark, tbl) == [10, 11, 12, 13, 14] + list(range(20, 100))


def test_merge_over_dv_file_does_not_resurrect(spark, tbl):
    LT.delete_where_mor(spark, tbl, "id < 10")
    src = spark.createDataFrame([(15, -1)], "id long, v long")
    LT.merge(spark, tbl, src, "id")
    ids = _ids(spark, tbl)
    assert ids == list(range(10, 100))
    got = {
        r.id: r.v
        for r in LT.read_table(spark, tbl).filter("id = 15").collect()
    }
    assert got == {15: -1}


def test_merge_apply_cdc_delete_and_upsert(spark, tbl):
    """merge_apply: matched 'D' keys vanish, 'U' rows replace or insert,
    'D' for an absent key is a no-op, stats-missed files carry over, and
    the whole batch lands in ONE commit (snapshot isolation: no
    intermediate version where a deleted-and-reinserted key is absent)."""
    import pytest as _pytest

    before = {e["path"] for e in LT._read_manifest(tbl, 0)["files"]}
    # batch 1 confined to the first file's key range: delete + upsert in one
    # commit; the other range-partitioned files' stats miss it → carry over
    src = spark.createDataFrame(
        [(5, 999, "U"), (7, None, "D")], "id long, v long, _op string"
    )
    v = LT.merge_apply(spark, tbl, src, key="id")
    assert v == 1  # one commit for the whole batch
    rows = {r.id: r.v for r in LT.read_table(spark, tbl).collect()}
    assert rows[5] == 999 and 7 not in rows and len(rows) == 99
    after = {e["path"] for e in LT._read_manifest(tbl, 1)["files"]}
    assert before & after, "stats-missed files should carry over untouched"
    # batch 2: insert-on-unmatched-U plus delete-of-absent-key no-op.
    # NOTE the range lesson: a wide batch (here keys 150..9999) widens the
    # [lo,hi] prune window — CDC consumers should split wild-range batches
    rows2 = spark.createDataFrame(
        [(150, 300, "U"), (9999, None, "D")], "id long, v long, _op string"
    )
    LT.merge_apply(spark, tbl, rows2, key="id")
    rows = {r.id: r.v for r in LT.read_table(spark, tbl).collect()}
    assert rows[150] == 300 and 9999 not in rows and len(rows) == 100
    # duplicate source keys rejected (binlog must be pre-compacted)
    dup = spark.createDataFrame(
        [(5, 1, "U"), (5, 2, "D")], "id long, v long, _op string"
    )
    with _pytest.raises(ValueError, match="duplicate"):
        LT.merge_apply(spark, tbl, dup, key="id")
    # snapshot isolation: version 0 untouched
    assert len(LT.read_table(spark, tbl, version=0).collect()) == 100


def test_merge_apply_respects_deletion_vectors(spark, tbl):
    """A merge_apply rewrite must read hit files through their deletion
    vectors — MOR-deleted rows can never resurrect in the rewrite."""
    LT.delete_where_mor(spark, tbl, "id IN (6, 8)")
    src = spark.createDataFrame([(5, -1, "U")], "id long, v long, _op string")
    LT.merge_apply(spark, tbl, src, key="id")
    ids = {r.id for r in LT.read_table(spark, tbl).collect()}
    assert 6 not in ids and 8 not in ids and 5 in ids


def test_merge_apply_batch_id_exactly_once(spark, tbl):
    """Replayed micro-batch (same batch_id) must be a no-op commit —
    the foreachBatch exactly-once contract on the update/delete path."""
    src = spark.createDataFrame([(5, 999, "U")], "id long, v long, _op string")
    v1 = LT.merge_apply(spark, tbl, src, key="id", batch_id=7)
    v2 = LT.merge_apply(spark, tbl, src, key="id", batch_id=7)  # replay
    assert v1 == v2 == 1
    assert LT._read_manifest(tbl, 1).get("batch_id") == 7
    # a NEW batch id still commits
    src2 = spark.createDataFrame([(6, -6, "U")], "id long, v long, _op string")
    assert LT.merge_apply(spark, tbl, src2, key="id", batch_id=8) == 2


def test_replay_guard_survives_compact_manifests(spark, tbl):
    """Round 7 (ADVICE r6 medium): compact_manifests squashes the manifest
    that recorded a streaming commit's batch_id — the replay must STILL
    skip, via the batch_ids persisted in the checkpoint's replay list.
    Before the fix a replayed micro-batch whose commit was squashed
    re-applied its CDC upserts/deletes silently."""
    src = spark.createDataFrame([(5, 999, "U"), (6, -1, "D")], "id long, v long, _op string")
    v1 = LT.merge_apply(spark, tbl, src, key="id", batch_id=42)  # v1
    b2 = spark.createDataFrame([(200, 1)], "id long, v long")
    LT.append_stream_batch(b2, tbl, batch_id=9)  # v2
    for i in range(3, 9):  # pad the log so the streaming commits get squashed
        LT.append(spark.createDataFrame([(300 + i, 1)], "id long, v long"), tbl)
    before = _ids(spark, tbl)
    assert LT.compact_manifests(tbl, keep_last=2) > 0  # v1, v2 squashed
    with pytest.raises(ValueError, match="compacted away"):
        LT._read_manifest(tbl, v1)  # the manifest really is gone
    # replays after the squash: both must skip and return the original version
    assert LT.merge_apply(spark, tbl, src, key="id", batch_id=42) == v1
    assert LT.append_stream_batch(b2, tbl, batch_id=9) == 2
    assert _ids(spark, tbl) == before  # nothing double-applied


def test_replay_guard_survives_vacuum(spark, tbl):
    """Same horizon contract through vacuum, which also deletes old
    manifests: the dropped commits' batch_ids persist first."""
    b = spark.createDataFrame([(500, 5)], "id long, v long")
    LT.append_stream_batch(b, tbl, batch_id=3)  # v1
    LT.compact(spark, tbl, target_files=1)  # v2
    before = _ids(spark, tbl)
    LT.vacuum(tbl, keep_last=1, retention_seconds=0)
    # replay after vacuum: skips via the persisted replay id
    assert LT.append_stream_batch(b, tbl, batch_id=3) == 1
    assert _ids(spark, tbl) == before


def test_persist_replay_ids_dedups_on_crash_retry(spark, tbl):
    """ADVICE r7 #4: a crash between persisting replay ids and deleting
    the squashed manifests makes the next maintenance op re-offer the
    same (op, batch_id) entries. The merge must dedup (keeping the
    first-persisted version), so the checkpoint stays O(distinct
    streaming commits), not O(all history × squash count)."""
    b = spark.createDataFrame([(1, 1)], "id long, v long")
    LT.append_stream_batch(b, tbl, batch_id=11)
    v = LT.current_version(tbl)
    manifests = [LT._read_manifest(tbl, v)]
    for _ in range(3):  # crash-retry: same manifests offered repeatedly
        LT._persist_replay_ids(tbl, manifests)
    ck = LT._read_checkpoint(tbl)
    entries = [r for r in ck["replay"] if r["batch_id"] == 11]
    assert len(entries) == 1
    assert entries[0]["version"] == v
    # and the guard still skips the replay through the persisted id
    assert LT.append_stream_batch(b, tbl, batch_id=11) == v


def test_stream_cdc_into_lake_via_foreach_batch(spark, tbl, tmp_path):
    """End-to-end CDC: a stream of change events lands in the lake table
    through foreachBatch(merge_apply) — each micro-batch compacted to
    final-state-per-key (last write wins) before the one-commit apply."""
    import shutil
    import uuid as _uuid

    from pyspark.sql import functions as F

    src_dir = f"{tmp_path}/cdclake_{_uuid.uuid4().hex[:8]}"
    schema = "seq long, id long, v long, _op string"
    # batch 1: update id=5 twice (last wins), delete id=7
    spark.createDataFrame(
        [(1, 5, 100, "U"), (2, 5, 200, "U"), (3, 7, None, "D")], schema
    ).coalesce(1).write.mode("append").parquet(src_dir)

    def apply_batch(bdf, bid):
        from pyspark.sql import Window

        w = Window.partitionBy("id").orderBy(F.col("seq").desc())
        final = (
            bdf.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("id", "v", "_op")
        )
        LT.merge_apply(spark, tbl, final, key="id", batch_id=bid)

    def drain():
        qs = (
            spark.readStream.schema(schema)
            .parquet(src_dir)
            .writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", f"{src_dir}_ck")
            .trigger(availableNow=True)
            .start()
        )
        qs.awaitTermination()

    drain()
    rows = {r.id: r.v for r in LT.read_table(spark, tbl).collect()}
    assert rows[5] == 200 and 7 not in rows and len(rows) == 99
    # batch 2: resurrect 7, delete 5
    spark.createDataFrame(
        [(4, 7, 777, "U"), (5, 5, None, "D")], schema
    ).coalesce(1).write.mode("append").parquet(src_dir)
    drain()
    rows = {r.id: r.v for r in LT.read_table(spark, tbl).collect()}
    assert rows[7] == 777 and 5 not in rows and len(rows) == 99
    ops = [h["op"] for h in LT.history(tbl)]
    assert ops.count("merge-cdc") == 2  # one commit per micro-batch
    shutil.rmtree(src_dir, ignore_errors=True)
    shutil.rmtree(f"{src_dir}_ck", ignore_errors=True)


def test_footer_stats_equal_spark_aggregate_stats(spark, tmp_path):
    """Round-11 optimization pin: manifest stats now come from the staged
    parquet FOOTERS (pyarrow, no second Spark scan). They must equal the
    exact F.min/F.max aggregation the fallback path computes — including
    long free-text strings (the documents fixture), NULLs, and negative
    doubles — or manifest pruning (files_matching, delete_where carry-over)
    would change behavior. Exercises the REAL fixture text column, so a
    Spark parquet-writer that truncated/omitted string footer stats would
    fail here (and _footer_entries would have to fall back)."""
    import os as _os

    from pyspark.sql import functions as F

    from apachebeam_python_spark.session import table as _table

    sf_dir = _os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
    docs = _table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source", "n_chars",
        (F.col("n_chars") * F.lit(-0.5)).alias("neg_d"),
        F.when(F.col("doc_id") % 7 == 0, F.col("source")).alias("nullable_s"),
    )
    path = str(tmp_path / "stats_tbl")
    LT.create_table(docs.repartition(4), path)
    m = LT._read_manifest(path, 0)
    stat_cols = [
        f.name for f in docs.schema.fields
        if f.dataType.simpleString() in LT._STATS_TYPES
    ]
    assert stat_cols == [
        "doc_id", "text", "source", "n_chars", "neg_d", "nullable_s"
    ]
    # exact stats per staged file via the Spark aggregation (the old path)
    aggs = [F.count("*").alias("__n")]
    for c in stat_cols:
        aggs += [F.min(c).alias(f"__min_{c}"), F.max(c).alias(f"__max_{c}")]
    truth = {
        _os.path.basename(r["__fp"]): r
        for r in spark.read.parquet(
            *[_os.path.join(path, e["path"]) for e in m["files"]]
        )
        .select("*", F.col("_metadata.file_path").alias("__fp"))
        .groupBy("__fp")
        .agg(*aggs)
        .collect()
    }
    assert len(m["files"]) == len(truth) and len(m["files"]) >= 2
    for e in m["files"]:
        t = truth[_os.path.basename(e["path"])]
        assert e["rows"] == t["__n"]
        for c in stat_cols:
            assert e["stats"][c] == [
                LT._json_safe(t[f"__min_{c}"]), LT._json_safe(t[f"__max_{c}"])
            ], f"{c} in {e['path']}"
