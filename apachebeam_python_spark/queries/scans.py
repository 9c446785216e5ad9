"""Source/sink queries (SURVEY.md §2.1): parquet scan, text & CSV round-trips,
JSON extraction from an embedded column."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import scratch_dir, table
from ..sources import io
from ._registry import register


def _sfkey(sf_dir: str) -> str:
    import hashlib

    return hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]


def _scratch_dir() -> str:
    """Sink scratch space (``session.scratch_dir``) — round-trip queries
    write here then read back; the oracle checks against the original table.
    Keyed per process so concurrent runs can't race each other's
    overwrite-then-read cycle."""
    d = scratch_dir(f"run_{os.getpid()}")
    os.makedirs(d, exist_ok=True)
    return d


@register(
    "q_scan_parquet",
    driver=False,  # parquet scan proven transitively by every driver query
    oracle="""
SELECT p_partkey, p_name, p_brand, round(p_retailprice, 2) AS retail
FROM part
WHERE p_size BETWEEN 10 AND 20
""",
)
def q_scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ReadFromParquet with projection + pushed predicate (SURVEY §2.1)."""
    p = io.read_parquet(spark, os.path.join(sf_dir, "part.parquet"))
    return p.filter(F.col("p_size").between(10, 20)).select(
        "p_partkey", "p_name", "p_brand", F.round("p_retailprice", 2).alias("retail")
    )


@register(
    "q_scan_text",
    driver=False,  # folded into q_scan_formats
    oracle="SELECT count(*) AS n_lines, count(DISTINCT line) AS n_distinct FROM (SELECT text AS line FROM documents)",
)
def q_scan_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WriteToText → ReadFromText round-trip (SURVEY §2.1). The written lines
    are the documents' text; the oracle checks against the original table, so
    this proves the sink/source pair is lossless for line-oriented data."""
    out = os.path.join(_scratch_dir(), f"text_{_sfkey(sf_dir)}")
    docs = table(spark, sf_dir, "documents").select("text")
    io.write_text(docs, out)
    lines = io.read_text(spark, out)
    return lines.agg(
        F.count("*").alias("n_lines"),
        F.countDistinct("value").alias("n_distinct"),
    )


_CSV_SCHEMA = "p_partkey long, p_brand string, p_size int, p_retailprice double"


@register(
    "q_scan_csv",
    driver=False,  # folded into q_scan_formats
    oracle="""
SELECT p_brand, count(*) AS n, round(sum(p_retailprice), 2) AS sum_retail
FROM part GROUP BY p_brand
""",
)
def q_scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink → source round-trip with explicit schema (no inferSchema scan
    — SURVEY §2.1 / scale note in sources/io.py), checked against the
    original parquet table via the oracle."""
    out = os.path.join(_scratch_dir(), f"csv_{_sfkey(sf_dir)}")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size", "p_retailprice")
    io.write_csv(p, out)
    back = io.read_csv(spark, out, schema=_CSV_SCHEMA)
    return back.groupBy("p_brand").agg(
        F.count("*").alias("n"),
        F.round(F.sum("p_retailprice"), 2).alias("sum_retail"),
    )


@register(
    "q_json_extract",
    # rotated off r9 (VERDICT r8 #1): q_variant_json carries the
    # semi-structured family's driver slot; this stays in the local sweep
    driver=False,
    oracle="""
SELECT event_id, event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
FROM events
WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
""",
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedded-JSON column extraction (the Beam textio+json.loads pattern,
    SURVEY §2.1/§2.7) via ``get_json_object`` — JVM-side, no Python UDF."""
    e = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return e.select("event_id", "event_type", k.alias("k_val")).filter(F.col("k_val") > 50)


@register(
    "q_scan_formats",
    oracle="""
SELECT 'text' AS fmt, count(*) AS n, count(DISTINCT text) AS nd, 0.0 AS s
FROM documents
UNION ALL
SELECT 'csv', count(*), count(DISTINCT p_brand), round(sum(p_retailprice), 2)
FROM part
UNION ALL
SELECT 'jsonl', count(*), count(DISTINCT event_type), round(sum(value), 2)
FROM events
UNION ALL
SELECT 'orc', count(*), count(DISTINCT o_orderstatus), round(sum(o_totalprice), 2)
FROM orders
""",
)
def q_scan_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text, CSV, JSON-lines, and ORC sink→source round trips in ONE tagged
    driver row (SURVEY §2.1; folds q_scan_text / q_scan_csv / q_scan_jsonl,
    pytest-only — per-format notes live there). Each arm writes the original
    parquet table out in its format, reads it back with an explicit schema
    (self-describing for ORC; no inferSchema scan anywhere), and aggregates;
    the oracle checks against the ORIGINAL tables, so a lossy round trip in
    any format breaks the hash. Parquet scans themselves are proven
    transitively by every driver query; Avro stays a documented gap (needs
    the spark-avro jar, absent offline)."""
    scratch = _scratch_dir()
    key = _sfkey(sf_dir)

    docs = table(spark, sf_dir, "documents").select("text")
    text_out = os.path.join(scratch, f"fmt_text_{key}")
    io.write_text(docs, text_out)
    text_arm = io.read_text(spark, text_out).agg(
        F.count("*").alias("n"), F.countDistinct("value").alias("nd")
    ).select(
        F.lit("text").alias("fmt"), "n", "nd", F.lit(0.0).alias("s")
    )

    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size", "p_retailprice")
    csv_out = os.path.join(scratch, f"fmt_csv_{key}")
    io.write_csv(p, csv_out)
    csv_arm = io.read_csv(
        spark, csv_out,
        schema="p_partkey long, p_brand string, p_size int, p_retailprice double",
    ).agg(
        F.count("*").alias("n"),
        F.countDistinct("p_brand").alias("nd"),
        F.round(F.sum("p_retailprice"), 2).alias("s"),
    ).select(F.lit("csv").alias("fmt"), "n", "nd", "s")

    e = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    jsonl_out = os.path.join(scratch, f"fmt_jsonl_{key}")
    io.write_json(e, jsonl_out)
    jsonl_arm = io.read_json(
        spark, jsonl_out, schema="event_id long, event_type string, value double"
    ).agg(
        F.count("*").alias("n"),
        F.countDistinct("event_type").alias("nd"),
        F.round(F.sum("value"), 2).alias("s"),
    ).select(F.lit("jsonl").alias("fmt"), "n", "nd", "s")

    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    orc_out = os.path.join(scratch, f"fmt_orc_{key}")
    io.write_orc(o, orc_out)
    orc_arm = io.read_orc(spark, orc_out).agg(
        F.count("*").alias("n"),
        F.countDistinct("o_orderstatus").alias("nd"),
        F.round(F.sum("o_totalprice"), 2).alias("s"),
    ).select(F.lit("orc").alias("fmt"), "n", "nd", "s")

    return text_arm.unionByName(csv_arm).unionByName(jsonl_arm).unionByName(orc_arm)


@register(
    "q_merge_upsert",
    driver=False,  # extra lake-maintenance proof beyond the driver window
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate FROM orders
),
upd AS (
  SELECT o_orderkey, 'U' AS o_orderstatus, o_totalprice * 2 AS o_totalprice,
         TIMESTAMP '2099-01-01' AS o_orderdate
  FROM orders WHERE o_orderkey % 7 = 0
  UNION ALL
  SELECT o_orderkey + 10000000, 'N', 1000.0, TIMESTAMP '2099-01-01'
  FROM orders WHERE o_orderkey % 1000 = 0
),
tagged AS (
  SELECT *, 0 AS _src FROM base
  UNION ALL
  SELECT *, 1 AS _src FROM upd
)
SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice,
       o_orderdate
FROM tagged
QUALIFY row_number() OVER (PARTITION BY o_orderkey
                           ORDER BY o_orderdate DESC, _src DESC) = 1
""",
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC latest-wins merge (sources.layout.merge_upsert): a derived
    update batch (modified rows + brand-new keys, all version-stamped
    later than the base) upserts into orders — updated keys take the new
    row, new keys insert, untouched keys pass through. One union + one
    hash shuffle + per-key struct-max, no sort, no window (the oracle
    uses QUALIFY row_number; the Spark plan is the cheaper agg form).
    At 100 TB: restrict base to the update batch's partitions and pair
    with overwrite_partition for a surgical MERGE on plain parquet."""
    from ..sources.layout import merge_upsert

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    ver = F.lit("2099-01-01 00:00:00").cast("timestamp")
    changed = o.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") * 2).alias("o_totalprice"),
        ver.alias("o_orderdate"),
    )
    inserted = o.filter(F.col("o_orderkey") % 1000 == 0).select(
        (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
        F.lit("N").alias("o_orderstatus"),
        F.lit(1000.0).alias("o_totalprice"),
        ver.alias("o_orderdate"),
    )
    merged = merge_upsert(
        o, changed.unionByName(inserted), ["o_orderkey"], "o_orderdate"
    )
    return merged.select(
        "o_orderkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("o_totalprice"),
        "o_orderdate",
    )


@register(
    "q_variant_json",
    # driver slot since r9 (VERDICT r8 #1): first VARIANT driver grade
    oracle="""
WITH kk AS (
  SELECT event_type,
         TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
  WHERE json_valid(props)
), j AS (
  SELECT event_type,
         '{"meta":{"type":"' || event_type || '","k":'
           || CAST(k AS VARCHAR)
           || '},"vals":['
           || CAST(k AS VARCHAR)
           || ','
           || CAST(2 * k AS VARCHAR)
           || ']}' AS doc
  FROM kk WHERE k IS NOT NULL
)
SELECT CAST(json_extract_string(doc, '$.meta.type') AS VARCHAR) AS type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(json_extract_string(doc, '$.vals[1]') AS BIGINT))
            AS BIGINT) AS sum_v1,
       CAST(max(CAST(json_extract_string(doc, '$.meta.k') AS BIGINT))
            AS BIGINT) AS max_k
FROM j GROUP BY 1
""",
)
def q_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured analytics through Spark 4's VARIANT type (SURVEY
    §2.7's JSON family taken to its modern form): nested JSON documents are
    ingested ONCE with ``parse_json`` into the binary VARIANT encoding, then
    every access is a typed path extraction (``variant_get`` with object
    fields AND array indexing) — no per-access re-parse, no schema
    declaration up front. The documents are built from the events table's
    embedded JSON (integer fields only, so the text forms are byte-identical
    across engines); the oracle runs the same paths through DuckDB's JSON
    engine — two independent JSON parsers agreeing on every extracted value.

    Scale: VARIANT's win at 100 TB is decode-once: the parse cost is paid at
    ingest and the binary encoding supports direct path seeks per access
    (vs get_json_object re-parsing the string per call). The whole query is
    one narrow projection + a low-cardinality partial+final agg."""
    e = table(spark, sf_dir, "events")
    # try_cast mirrors the oracle's TRY_CAST: a non-integer k becomes NULL
    # (never an ANSI cast error) and is dropped by the isNotNull filter in
    # BOTH engines; get_json_object returning NULL covers invalid JSON the
    # way the oracle's json_valid() guard does (code-review r3).
    k = F.get_json_object("props", "$.k").try_cast("long")
    doc = F.format_string(
        '{"meta":{"type":"%s","k":%d},"vals":[%d,%d]}',
        F.col("event_type"), k, k, (2 * k).cast("long"),
    )
    v = F.parse_json(doc)
    return (
        e.filter(k.isNotNull())
        .select(v.alias("v"))
        .select(
            F.variant_get("v", "$.meta.type", "string").alias("type"),
            F.variant_get("v", "$.vals[1]", "bigint").alias("v1"),
            F.variant_get("v", "$.meta.k", "bigint").alias("k"),
        )
        .groupBy("type")
        .agg(
            F.count("*").alias("n"),
            F.sum("v1").alias("sum_v1"),
            F.max("k").alias("max_k"),
        )
    )


@register(
    "q_provenance",
    driver=False,  # §2.1 source-metadata extension — pytest oracle
    oracle="""
SELECT 'lineitem.parquet' AS file_name,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
FROM lineitem
""",
)
def q_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row provenance via the hidden ``_metadata`` struct (SURVEY §2.1's
    source-introspection capability): every scanned row carries its source
    file identity with ZERO storage cost — the lineage/debugging primitive
    behind "which input file produced this bad row". The fixture table is a
    single file, so the oracle pins the (constant) name and the per-file
    rollup; with a multi-file table the same query yields one row per file.

    Scale: _metadata is populated by the reader per split — a constant
    column within each task, never shuffled wider than the rollup; at
    100 TB this is the audit query run after every compaction/backfill
    (pair with sources/layout.py's rewriters)."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.select(F.col("_metadata.file_name").alias("file_name"), "l_orderkey")
        .groupBy("file_name")
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("l_orderkey").alias("n_orders"),
        )
    )


@register(
    "q_lake_snapshot",
    # driver r6–r9 (4 green rounds); rotated off r10 (VERDICT r9 #2, wave 5)
    # — the lake family keeps q_lake_changes + q_lake_merge on the surface
    driver=False,
    oracle="""
WITH v0 AS (SELECT * FROM documents WHERE doc_id % 3 = 0),
     v1 AS (SELECT * FROM documents WHERE doc_id % 3 IN (0, 1)),
     v2 AS (SELECT * FROM v1 WHERE NOT (n_chars % 7 = 0))
SELECT * FROM (
  SELECT 0 AS version, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(doc_id) AS BIGINT) AS id_sum,
         CAST(sum(n_chars) AS BIGINT) AS chars_sum FROM v0
  UNION ALL
  SELECT 1, CAST(count(*) AS BIGINT), CAST(sum(doc_id) AS BIGINT),
         CAST(sum(n_chars) AS BIGINT) FROM v1
  UNION ALL
  SELECT 2, CAST(count(*) AS BIGINT), CAST(sum(doc_id) AS BIGINT),
         CAST(sum(n_chars) AS BIGINT) FROM v2
) t
""",
)
def q_lake_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot isolation + time travel over plain parquet
    (sources/laketable.py — SURVEY §4.2 lake maintenance completed into a
    Delta-shaped transaction layer): create a table from a third of
    `documents`, APPEND another third, copy-on-write DELETE the rows
    whose n_chars is divisible by 7, then read ALL THREE versions back
    through their manifests and aggregate each. A green hash proves the
    commit protocol preserves every snapshot exactly: the delete did not
    disturb version 0/1 reads, and the manifest-listed file sets
    reproduce each version's rows bit-for-bit.

    Scale: manifests are one entry per FILE (~200k for 100 TB at 512 MB
    — driver-trivial JSON); reads plan from the manifest without
    directory listings; deletes rewrite only stats-hit files. Production
    swaps in Delta/Iceberg with the same call shapes."""
    import shutil

    from ..sources import laketable as LT

    out = os.path.join(_scratch_dir(), f"lake_{_sfkey(sf_dir)}")
    shutil.rmtree(out, ignore_errors=True)
    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars", "source")
    LT.create_table(docs.filter(F.col("doc_id") % 3 == 0), out)
    LT.append(docs.filter(F.col("doc_id") % 3 == 1), out)
    LT.delete_where(spark, out, "n_chars % 7 = 0")
    per_version = [
        LT.read_table(spark, out, version=v)
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("doc_id").alias("id_sum"),
            F.sum("n_chars").alias("chars_sum"),
        )
        .select(F.lit(v).alias("version"), "n_docs", "id_sum", "chars_sum")
        for v in (0, 1, 2)
    ]
    u = per_version[0]
    for d in per_version[1:]:
        u = u.unionAll(d)
    return u.select("version", "n_docs", "id_sum", "chars_sum")


@register(
    "q_lake_merge",
    # driver slot since r10 (VERDICT r9 #2, wave 5): first lake WRITE-path
    # grade (MERGE INTO on the snapshot layer)
    oracle="""
WITH v0 AS (
  SELECT doc_id, n_chars FROM documents WHERE doc_id % 2 = 0
),
v1 AS (
  SELECT doc_id, n_chars FROM documents WHERE doc_id % 2 = 0 AND doc_id % 10 <> 0
  UNION ALL
  SELECT doc_id, n_chars + 1000 FROM documents WHERE doc_id % 5 = 0
)
SELECT * FROM (
  SELECT 0 AS version, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(doc_id) AS BIGINT) AS id_sum,
         CAST(sum(n_chars) AS BIGINT) AS chars_sum FROM v0
  UNION ALL
  SELECT 1, CAST(count(*) AS BIGINT), CAST(sum(doc_id) AS BIGINT),
         CAST(sum(n_chars) AS BIGINT) FROM v1
) t
""",
)
def q_lake_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO (latest-wins upsert) on the snapshot lake table
    (sources/laketable.py): create from the even doc_ids, merge a batch
    of every 5th document with n_chars+1000 — even multiples of 10 are
    UPDATES (replace in place via copy-on-write), odd multiples of 5 are
    INSERTS — then aggregate both snapshots. A green hash proves matched
    rows were replaced not duplicated, unmatched rows survived the file
    rewrites, inserts landed once, and version 0 still reads pre-merge.

    Scale: the merge prunes carried files by manifest key-range stats —
    a trickle of updates against a key-sorted 100 TB table rewrites only
    the files whose ranges the batch intersects (scale note in the
    module)."""
    import shutil

    from ..sources import laketable as LT

    out = os.path.join(_scratch_dir(), f"lakemerge_{_sfkey(sf_dir)}")
    shutil.rmtree(out, ignore_errors=True)
    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    LT.create_table(docs.filter(F.col("doc_id") % 2 == 0), out)
    src = docs.filter(F.col("doc_id") % 5 == 0).withColumn(
        "n_chars", F.col("n_chars") + 1000
    )
    LT.merge(spark, out, src, key="doc_id")
    per_version = [
        LT.read_table(spark, out, version=v)
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("doc_id").alias("id_sum"),
            F.sum("n_chars").alias("chars_sum"),
        )
        .select(F.lit(v).alias("version"), "n_docs", "id_sum", "chars_sum")
        for v in (0, 1)
    ]
    return per_version[0].unionAll(per_version[1])


@register(
    "q_lake_changes",
    # driver slot since r9 (VERDICT r8 #1): first change-feed driver grade
    oracle="""
SELECT source,
       CAST(count(*) AS BIGINT)    AS n_new,
       CAST(sum(doc_id) AS BIGINT) AS id_sum
FROM documents WHERE doc_id % 2 = 1
GROUP BY source
""",
)
def q_lake_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental change feed (sources/laketable.read_changes): create
    the table from even doc_ids, append the odds across TWO commits, then
    consume the changes since version 0 — the manifest file-set diff must
    yield exactly the appended rows (append-only windows are exact; the
    at-least-once caveat for rewrite ops is documented in the module).
    This is how a downstream job processes only the delta instead of
    rescanning the table.

    Scale: the diff is manifest arithmetic on the driver — O(files) set
    membership — and the read opens only the added files."""
    import shutil

    from ..sources import laketable as LT

    out = os.path.join(_scratch_dir(), f"lakechanges_{_sfkey(sf_dir)}")
    shutil.rmtree(out, ignore_errors=True)
    docs = table(spark, sf_dir, "documents").select("doc_id", "source")
    LT.create_table(docs.filter(F.col("doc_id") % 2 == 0), out)
    LT.append(docs.filter((F.col("doc_id") % 2 == 1) & (F.col("doc_id") % 3 == 0)), out)
    LT.append(docs.filter((F.col("doc_id") % 2 == 1) & (F.col("doc_id") % 3 != 0)), out)
    return (
        LT.read_changes(spark, out, from_version=0)
        .groupBy("source")
        .agg(F.count("*").alias("n_new"), F.sum("doc_id").alias("id_sum"))
    )


@register(
    "q_scan_avro",
    driver=False,  # §2.1 Avro container round trip (pure-Python codec)
    oracle="""
SELECT source,
       CAST(count(*) AS BIGINT)        AS n_docs,
       CAST(sum(doc_id) AS BIGINT)     AS id_sum,
       CAST(sum(n_chars) AS BIGINT)    AS chars_sum,
       min(text)                       AS first_text
FROM documents
GROUP BY source
""",
)
def q_scan_avro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WriteToAvro → ReadFromAvro round trip (SURVEY §2.1) — implemented
    jar-free: ``sources.avro_lite`` writes/reads real Avro Object
    Container Files (magic, metadata map, zigzag-varint blocks, sync
    markers) in pure Python, task-side via mapInPandas. The oracle
    aggregates the ORIGINAL parquet table, so a green hash proves the
    Avro byte round trip is lossless for long/string columns including
    per-source text minima. Production swaps in the spark-avro
    datasource with no query changes (documented in the module)."""
    import shutil

    from ..sources.avro_lite import read_avro, write_avro

    out = os.path.join(_scratch_dir(), f"avro_{_sfkey(sf_dir)}")
    shutil.rmtree(out, ignore_errors=True)  # uuid part names — clear or double-count
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source", "n_chars"
    )
    write_avro(docs, out)
    back = read_avro(spark, out)
    return back.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("doc_id").alias("id_sum"),
        F.sum("n_chars").alias("chars_sum"),
        F.min("text").alias("first_text"),
    )


@register(
    "q_export_webdataset",
    # driver slot since r10 (VERDICT r9 #2, wave 5): first training-export
    # round trip the external artifact grades
    oracle="""
SELECT source, lang,
       CAST(count(*) AS BIGINT)    AS n_docs,
       CAST(sum(doc_id) AS BIGINT) AS id_sum,
       md5(string_agg(text, '|' ORDER BY doc_id)) AS text_md5
FROM documents
GROUP BY source, lang
""",
)
def q_export_webdataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset tar-shard export → re-ingest round trip (the training-
    data hand-off format most LLM loaders stream): docs shard by
    doc_id/64, each shard becomes one deterministic ``<shard>.tar`` of
    ``<key>.txt`` + ``<key>.json`` members written per-shard inside
    applyInPandas (``sources.mlexport``), read back via binaryFile +
    stdlib tarfile. The oracle aggregates the ORIGINAL table — the green
    hash proves text AND json metadata survive the container byte-exact,
    ordered-md5 included."""
    from ..sources.mlexport import read_webdataset, write_webdataset

    out = os.path.join(_scratch_dir(), f"wds_{_sfkey(sf_dir)}")
    docs = table(spark, sf_dir, "documents").withColumn(
        "shard", (F.col("doc_id") / 64).cast("long")
    )
    write_webdataset(docs, out, "doc_id", "text", ["source", "lang"], "shard")
    back = read_webdataset(spark, out, ["source", "lang"])
    return back.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("key").alias("id_sum"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("key", "text"))),
                    lambda x: x.text,
                ),
                "|",
            )
        ).alias("text_md5"),
    )


@register(
    "q_export_tfrecord",
    driver=True,  # §2.1/§2.11 TFRecord round trip — rotated in r11 (wave 6)
    oracle="""
SELECT CAST(doc_id // 64 AS BIGINT)    AS shard,
       CAST(count(*) AS BIGINT)        AS n_docs,
       CAST(sum(doc_id) AS BIGINT)     AS id_sum,
       -- length(text), not the n_chars column: the Spark side measures the
       -- ROUND-TRIPPED text, and the sf1 replica's salted copies make the
       -- stored n_chars a stale proxy (caught by the r9 sf1 sweep)
       CAST(sum(length(text)) AS BIGINT) AS chars_sum,
       md5(string_agg(text, '|' ORDER BY doc_id)) AS text_md5
FROM documents
GROUP BY 1
""",
)
def q_export_tfrecord(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TFRecord export → re-ingest round trip: docs shard by doc_id/64
    into ``<shard>.tfrecord`` files of hand-encoded ``tf.train.Example``
    records (protobuf wire format written directly — no protobuf library)
    framed with masked CRC-32C checksums, which the reader VERIFIES on
    every record. The oracle aggregates the original table; the ordered
    md5 pins byte-exact text recovery through the Example encode/decode.
    r11 (rotation wave 6): the digest is PER SHARD, not global — a
    multi-row external grade (~8 rows at sf0.01, scaling with the data)
    that additionally pins that every record landed in its intended
    doc_id/64 shard file (the reader parses ``shard`` from the FILE NAME,
    so a record written to the wrong file breaks the hash even though its
    bytes round-trip) — exactly what a training-data loader consumes."""
    from ..sources.mlexport import read_tfrecord, write_tfrecord

    out = os.path.join(_scratch_dir(), f"tfr_{_sfkey(sf_dir)}")
    docs = table(spark, sf_dir, "documents").withColumn(
        "shard", (F.col("doc_id") / 64).cast("long")
    )
    write_tfrecord(docs, out, "doc_id", "text", "shard")
    back = read_tfrecord(spark, out)
    return back.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("id").alias("id_sum"),
        F.sum(F.length("text")).alias("chars_sum"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("id", "text"))),
                    lambda x: x.text,
                ),
                "|",
            )
        ).alias("text_md5"),
    )


@register(
    "q_scan_avro_ds",
    driver=False,  # §2.1 custom Python DataSource (format("avro_lite")) — pytest oracle
    oracle="""
SELECT source,
       CAST(count(*) AS BIGINT)     AS n_docs,
       CAST(sum(doc_id) AS BIGINT)  AS id_sum,
       min(text)                    AS first_text
FROM documents
GROUP BY source
""",
)
def q_scan_avro_ds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource round trip (SURVEY §2.1 — Beam's
    ``iobase.BoundedSource``/``FileBasedSink`` surface, Spark-4-idiomatic):
    the Avro-lite codec registered as ``format("avro_lite")`` via
    ``spark.dataSource.register`` (sources/pyds.py), written with
    ``df.write.format(...)`` and read back with ``spark.read.format(...)``
    — schema inferred from the container header, one InputPartition per
    file, per-task writer with commit/abort lifecycle. Oracle = the
    original table: a green hash proves the full DataSource V2 Python
    path is lossless."""
    from ..sources.pyds import AvroLiteDataSource

    try:
        spark.dataSource.register(AvroLiteDataSource)
    except Exception:
        pass  # already registered in this session
    out = os.path.join(_scratch_dir(), f"avro_ds_{_sfkey(sf_dir)}")
    import shutil

    shutil.rmtree(out, ignore_errors=True)
    docs = table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    docs.write.format("avro_lite").mode("append").save(out)
    back = spark.read.format("avro_lite").load(out)
    return back.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("doc_id").alias("id_sum"),
        F.min("text").alias("first_text"),
    )


@register(
    "q_scan_orc",
    driver=False,  # §2.1 columnar-format breadth (round 4) — pytest oracle
    oracle="""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT)       AS n_orders,
       CAST(sum(o_custkey) AS BIGINT) AS cust_sum,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS price_sum
FROM orders
WHERE o_orderstatus = 'O'
GROUP BY o_orderpriority
""",
)
def q_scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC write → read round trip (SURVEY §2.1): the second first-class
    columnar format next to parquet, via Spark's built-in ORC datasource
    (predicate pushdown and column pruning work the same). The oracle
    aggregates the ORIGINAL parquet table, so a green hash proves the ORC
    round trip is value-lossless for long/string/double columns.

    Scale: format choice doesn't change the plan — the filter pushes into
    the ORC scan exactly as it does for parquet; the write is one pass."""
    import shutil

    out = os.path.join(_scratch_dir(), f"orc_{_sfkey(sf_dir)}")
    shutil.rmtree(out, ignore_errors=True)
    orders = table(spark, sf_dir, "orders")
    orders.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return (
        back.filter(F.col("o_orderstatus") == "O")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("o_custkey").alias("cust_sum"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("price_sum"),
        )
    )


@register(
    "q_scan_hive_partitioned",
    driver=False,  # §2.1 partition-discovery/pruning proof (round 4) — pytest oracle
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT)  AS n,
       CAST(sum(user_id) AS BIGINT) AS user_sum,
       round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0, 2) AS value_sum
FROM events
WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
GROUP BY event_type
""",
)
def q_scan_hive_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned layout round trip (SURVEY §2.1): events
    written as ``event_type=<v>/`` directories, re-read through partition
    DISCOVERY, with an IN-filter that must prune to two of five
    directories at PLAN time (PartitionFilters, asserted in
    tests/test_plans.py — files of other partitions are never opened).
    The partition column comes back from the directory name, not the
    data, so the oracle over the original table proves the
    value↔directory round trip too.

    Scale: partition pruning is THE first-order cost lever on a
    100 TB lake — this query is the proof the engine plans it, and
    layout.partition_overwrite is the writer that maintains it."""
    import shutil

    out = os.path.join(_scratch_dir(), f"hivepart_{_sfkey(sf_dir)}")
    shutil.rmtree(out, ignore_errors=True)
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    e.select("event_id", "user_id", "value", "event_type").write.mode(
        "overwrite"
    ).partitionBy("event_type").parquet(out)
    back = spark.read.parquet(out)
    return (
        back.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("user_id").alias("user_sum"),
            F.round(
                F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0, 2
            ).alias("value_sum"),
        )
    )


@register(
    "q_scan_binaryfile",
    driver=False,  # §2.1 binary-corpus source — pytest oracle
    oracle="""
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS content_md5
FROM documents WHERE doc_id % 100 = 0
""",
)
def q_scan_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Direct ``binaryFile`` source round trip (SURVEY §2.1; the multimodal
    ingest shape of §2.11): a doc subset is written one-file-per-row by the
    executor-side binary sink (``sources.io.write_binary_files``), read back
    as (path, length, content) rows, and checked byte-exact against the
    original table — md5 of the UTF-8 payload and the on-disk byte length
    both must survive the file system round trip.

    Scale: listing is distributed and each task reads only its own files;
    for billions of small payloads pack into WebDataset tars instead
    (q_export_webdataset) — the per-file overhead, not the scan, is what
    breaks first. The write is idempotent under retries (key-named files,
    identical bytes)."""
    import shutil

    out = os.path.join(_scratch_dir(), f"binf_{_sfkey(sf_dir)}")
    docs = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 100 == 0)
        .select("doc_id", "text")
    )
    shutil.rmtree(out, ignore_errors=True)  # stale <id>.bin files would be globbed back in
    io.write_binary_files(docs, out, "doc_id", "text", ext="bin")
    back = io.read_binary_files(spark, os.path.join(out, "*.bin"))
    return back.select(
        F.regexp_extract(F.col("path"), r"/(\d+)\.bin$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
    )


@register(
    "q_export_arrow_ipc",
    driver=False,  # §2.1/§2.11 Arrow IPC round trip (round 5) — pytest oracle
    oracle="""
SELECT CAST(count(*) AS BIGINT)        AS n_docs,
       CAST(sum(doc_id) AS BIGINT)     AS id_sum,
       -- length(text), not the n_chars column: the Spark side measures the
       -- ROUND-TRIPPED text, and the sf1 replica's salted copies make the
       -- stored n_chars a stale proxy (caught by the r9 sf1 sweep)
       CAST(sum(length(text)) AS BIGINT) AS chars_sum,
       md5(string_agg(text, '|' ORDER BY doc_id)) AS text_md5
FROM documents
""",
)
def q_export_arrow_ipc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow IPC (Feather V2) export → re-ingest round trip (SURVEY §2.1
    sinks; the §2.11 training-data tail): docs shard by doc_id/64 into
    ``<shard>.arrow`` IPC FILE containers — the format pandas / polars /
    DuckDB / Ray Data memory-map without any decode, i.e. the zero-copy
    sibling of q_export_webdataset/q_export_tfrecord. The oracle aggregates
    the original table; the ordered md5 pins byte-exact text recovery
    through the IPC encode/decode.

    Scale: per-shard applyInPandas writer (no driver gather), binaryFile +
    mapInPandas reader — one task per shard both ways."""
    import shutil

    from ..sources.mlexport import read_arrow_ipc, write_arrow_ipc

    out = os.path.join(_scratch_dir(), f"aipc_{_sfkey(sf_dir)}")
    shutil.rmtree(out, ignore_errors=True)  # stale shards would be globbed back in
    docs = table(spark, sf_dir, "documents").withColumn(
        "shard", (F.col("doc_id") / 64).cast("long")
    )
    write_arrow_ipc(docs, out, "doc_id", "text", "shard")
    back = read_arrow_ipc(spark, out)
    return back.agg(
        F.count("*").alias("n_docs"),
        F.sum("id").alias("id_sum"),
        F.sum(F.length("text")).alias("chars_sum"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("id", "text"))),
                    lambda x: x.text,
                ),
                "|",
            )
        ).alias("text_md5"),
    )


# --------------------------------------------------------------------------
# Compressed text scan (round 5 continuation — §2.1 compression_type)
# --------------------------------------------------------------------------
@register(
    "q_scan_text_gzip",
    driver=False,  # §2.1 compressed-text source — pytest oracle
    oracle="""
SELECT count(*) AS n_lines, count(DISTINCT text) AS n_distinct,
       CAST(sum(length(text)) AS BIGINT) AS total_chars
FROM documents
""",
)
def q_scan_text_gzip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gzip-compressed WriteToText → ReadFromText round trip — Beam textio's
    ``compression_type=GZIP`` (SURVEY §2.1): the write emits .txt.gz
    part-files, the read decompresses transparently by extension, and the
    oracle checks the line census against the original table, proving the
    codec path is lossless.

    Scale: gzip part-files are NOT splittable — each file is one read task
    regardless of size, so the compressed-ingest rule at 100 TB is "many
    bounded files" (upstream repartition controls file count/size; the
    write helper documents it). Splittable alternatives (bzip2, or
    zstd-in-parquet) keep intra-file parallelism when needed."""
    import shutil

    out = os.path.join(_scratch_dir(), f"textgz_{_sfkey(sf_dir)}")
    shutil.rmtree(out, ignore_errors=True)
    docs = table(spark, sf_dir, "documents").select("text")
    io.write_text(docs, out, compression="gzip")
    lines = io.read_text(spark, out)
    return lines.agg(
        F.count("*").alias("n_lines"),
        F.countDistinct("value").alias("n_distinct"),
        F.sum(F.length("value")).alias("total_chars"),
    )


# --------------------------------------------------------------------------
# Multiline (JSON-array) document scan (round 5 continuation — §2.1)
# --------------------------------------------------------------------------
@register(
    "q_scan_json_multiline",
    driver=False,  # §2.1 whole-file JSON source — pytest oracle
    oracle="""
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents WHERE doc_id % 20 = 0
GROUP BY lang
""",
)
def q_scan_json_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-file JSON-ARRAY scan (``multiLine=true``) — the other JSON shape
    next to q_scan_jsonl's line-oriented one (SURVEY §2.1): a doc subset is
    serialized as ONE pretty-printable JSON array document, read back with
    the multiline parser, and census-checked against the original table.

    Scale: a multiline JSON document is inherently UNSPLITTABLE — the whole
    file is one parse task (and this builder funnels the subset through a
    1-row to_json, which is the format's nature, not a plan choice). This
    query exists to prove the capability and to document the advice: at any
    real scale, convert to JSONL/parquet at ingest; multiLine is for
    config-sized API exports only."""
    import shutil

    out = os.path.join(_scratch_dir(), f"jsonml_{_sfkey(sf_dir)}")
    shutil.rmtree(out, ignore_errors=True)
    docs = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 20 == 0)
        .select("doc_id", "lang", "n_chars")
    )
    arr = docs.agg(
        F.to_json(
            F.array_sort(
                F.collect_list(F.struct("doc_id", "lang", "n_chars"))
            )
        ).alias("value")
    )
    io.write_text(arr, out)
    back = (
        spark.read.option("multiLine", "true")
        .schema("doc_id long, lang string, n_chars long")
        .json(out)
    )
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


# --------------------------------------------------------------------------
# Fixed-width text extract round trip (round 5 continuation)
# --------------------------------------------------------------------------
@register(
    "q_scan_fixed_width",
    driver=False,  # §2.1 source/sink family (round 5) — pytest oracle
    oracle="""
SELECT n_nationkey, trim(name_field) AS n_name, n_regionkey
FROM (
  SELECT CAST(TRY_CAST(substr(line, 1, 4) AS BIGINT) AS BIGINT) AS n_nationkey,
         substr(line, 5, 25) AS name_field,
         CAST(TRY_CAST(substr(line, 30, 4) AS BIGINT) AS BIGINT) AS n_regionkey
  FROM (
    SELECT lpad(CAST(n_nationkey AS VARCHAR), 4, '0')
           || rpad(n_name, 25, ' ')
           || lpad(CAST(n_regionkey AS VARCHAR), 4, '0') AS line
    FROM nation
  )
)
""",
)
def q_scan_fixed_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width (mainframe-extract / COBOL copybook) text round trip
    (SURVEY §2.1 source family): nation rows serialize to 33-byte
    fixed-layout lines (4-digit zero-padded key, 25-char space-padded
    name, 4-digit region), land as a text file, and parse back by
    COLUMN POSITION — substr slices at fixed offsets, the layout every
    bank/telco feed still ships. The oracle replays the same
    pad-then-slice pipeline in SQL, so the byte layout itself is what's
    checked (padding widths, trim semantics, numeric re-casts).

    Scale: text scans split by line; a fixed-width parse is a single
    narrow projection per line (substring + cast — whole-stage codegen,
    no regex), making this the cheapest possible structured ingest: at
    100 TB the parse fuses into the scan with zero shuffles."""
    import shutil

    out = os.path.join(_scratch_dir(), f"fixw_{_sfkey(sf_dir)}")
    lines = table(spark, sf_dir, "nation").select(
        F.concat(
            F.lpad(F.col("n_nationkey").cast("string"), 4, "0"),
            F.rpad(F.col("n_name"), 25, " "),
            F.lpad(F.col("n_regionkey").cast("string"), 4, "0"),
        ).alias("value")
    )
    shutil.rmtree(out, ignore_errors=True)  # stale part files would be re-read
    lines.write.mode("overwrite").text(out)
    back = spark.read.text(out)
    line = F.col("value")
    return back.select(
        F.substring(line, 1, 4).cast("long").alias("n_nationkey"),
        F.trim(F.substring(line, 5, 25)).alias("n_name"),
        F.substring(line, 30, 4).cast("long").alias("n_regionkey"),
    )


# --------------------------------------------------------------------------
# Lake wave 4: merge-on-read deletion vectors (round 5 continuation)
# --------------------------------------------------------------------------
@register(
    "q_lake_delete_vectors",
    driver=False,  # §4.2 lake maintenance (round 5) — pytest oracle
    oracle="""
WITH base AS (
  SELECT doc_id, n_chars, source FROM documents
), v1 AS (  -- after the first MOR delete
  SELECT * FROM base WHERE NOT (n_chars % 7 = 0)
), v2 AS (  -- after the second, stacked vector
  SELECT * FROM v1 WHERE NOT (doc_id % 11 = 0)
), v3 AS (SELECT * FROM v2)  -- compact: logically a no-op
SELECT 0 AS version, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(doc_id) AS BIGINT) AS id_sum,
       CAST(sum(n_chars) AS BIGINT) AS chars_sum FROM base
UNION ALL
SELECT 1, CAST(count(*) AS BIGINT), CAST(sum(doc_id) AS BIGINT),
       CAST(sum(n_chars) AS BIGINT) FROM v1
UNION ALL
SELECT 2, CAST(count(*) AS BIGINT), CAST(sum(doc_id) AS BIGINT),
       CAST(sum(n_chars) AS BIGINT) FROM v2
UNION ALL
SELECT 3, CAST(count(*) AS BIGINT), CAST(sum(doc_id) AS BIGINT),
       CAST(sum(n_chars) AS BIGINT) FROM v3
""",
)
def q_lake_delete_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read deletion vectors end to end (sources/laketable.py
    lake wave 4 — the Delta/Iceberg-v2 read path): create a table from
    `documents`, MOR-delete n_chars%7 rows (a parquet position sidecar,
    ZERO data files rewritten), stack a second vector (doc_id%11), then
    COMPACT — the DV purge. All four versions read back through their
    manifests and aggregate; a green hash proves (a) vectors subtract
    exactly the predicate rows at read time, (b) vectors stack, (c) time
    travel still sees pre-delete rows, and (d) compaction preserves the
    logical table while clearing every vector (asserted structurally in
    tests/test_laketable.py).

    Scale: a GDPR point-delete under copy-on-write rewrites every file
    holding one matching row; a vector writes O(deleted) sidecar rows,
    distributed, and readers pay one anti-join until the next compaction
    — exactly Delta's trade."""
    import shutil

    from ..sources import laketable as LT

    out = os.path.join(_scratch_dir(), f"lakedv_{_sfkey(sf_dir)}")
    shutil.rmtree(out, ignore_errors=True)
    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars", "source")
    LT.create_table(docs, out)
    LT.delete_where_mor(spark, out, "n_chars % 7 = 0")
    LT.delete_where_mor(spark, out, "doc_id % 11 = 0")
    LT.compact(spark, out)
    per_version = [
        LT.read_table(spark, out, version=v).agg(
            F.count("*").alias("n_docs"),
            F.sum("doc_id").alias("id_sum"),
            F.sum("n_chars").alias("chars_sum"),
        ).select(F.lit(v).alias("version"), "n_docs", "id_sum", "chars_sum")
        for v in range(4)
    ]
    outdf = per_version[0]
    for p in per_version[1:]:
        outdf = outdf.unionByName(p)
    return outdf


# --------------------------------------------------------------------------
# Partitioned layout + partition pruning (round 6)
# --------------------------------------------------------------------------
@register(
    "q_partition_prune",
    driver=False,  # physical-layout proof; values = plain filtered agg
    oracle="""
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       count(*) AS n, round(sum(value), 2) AS sum_value
FROM events
WHERE event_type = 'purchase'
GROUP BY 1
""",
)
def q_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned layout + partition pruning (SURVEY §2.1
    source tier / §4 physical layout): events are written ONCE with
    ``partitionBy("event_type")`` and the filtered read then touches ONLY
    the ``event_type=purchase`` directory — the scan's PartitionFilters
    prune the other four partitions out of the file listing before any
    byte is read (pinned in tests/test_plans.py).

    Why at 100 TB: a predicate on the partition column is metadata-only
    I/O elimination — a 5-way event-type partitioning turns a full-corpus
    scan into a fifth of it, before pushed filters even run. The layout
    write is the same one-time amortization story as bucketing; daily
    jobs filtering by type/date read only their slice forever after.
    Values are layout-independent — the oracle is the plain filtered agg."""
    import shutil

    out = os.path.join(_scratch_dir(), f"events_bytype_{_sfkey(sf_dir)}")
    if not os.path.isdir(os.path.join(out, "event_type=purchase")):
        shutil.rmtree(out, ignore_errors=True)
        table(spark, sf_dir, "events").write.partitionBy("event_type").mode(
            "overwrite"
        ).parquet(out)
    e = spark.read.parquet(out).filter(F.col("event_type") == "purchase")
    return e.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


# --------------------------------------------------------------------------
# Lake file-stats data skipping (round 6)
# --------------------------------------------------------------------------
@register(
    "q_lake_stats_skipping",
    driver=False,  # lake read-path pruning proof; values = plain filtered agg
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n,
       CAST(sum(doc_id) AS BIGINT) AS id_sum,
       CAST(sum(n_chars) AS BIGINT) AS chars_sum
FROM documents
WHERE doc_id BETWEEN 100 AND 149
""",
)
def q_lake_stats_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-stats data skipping on the lake read path (sources/
    laketable.py `files_matching`, SURVEY §4.2): documents land in the
    lake table range-partitioned on doc_id, so each data file's manifest
    entry carries a disjoint [min,max] doc_id span; a doc_id-band query
    consults ONLY the manifest (driver-side, no footer reads) to find the
    files that can hold matches, reads just those, and re-applies the
    predicate. The skip is asserted real (pruned file set strictly
    smaller) before the read — a silent no-prune regression fails the
    query, not just a perf number.

    This is Delta/Iceberg data skipping in miniature: partition pruning
    eliminates directories by partition VALUE; stats skipping eliminates
    files WITHIN a partition by column [min,max]. At 100 TB the two
    compose with clustering (sources/layout.py z-order) — skip quality is
    exactly the narrowness of each file's value span.

    Values are layout-independent: the oracle is the plain filtered agg."""
    import shutil

    from ..sources import laketable as LT

    out = os.path.join(_scratch_dir(), f"lakeskip_{_sfkey(sf_dir)}")
    if not os.path.isdir(os.path.join(out, "_log")):
        shutil.rmtree(out, ignore_errors=True)
        docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
        LT.create_table(docs.repartitionByRange(8, "doc_id"), out)
    all_files = LT._read_manifest(out, LT.current_version(out))["files"]
    hit = LT.files_matching(out, "doc_id", 100, 149)
    if len(all_files) > 1 and not len(hit) < len(all_files):
        raise AssertionError(
            "stats skipping regressed: band query pruned no files "
            f"({len(hit)}/{len(all_files)})"
        )
    from pyspark.sql.types import StructType
    import json as _json

    m = LT._read_manifest(out, LT.current_version(out))
    schema = StructType.fromJson(_json.loads(m["schema"])) if m.get("schema") else None
    df = LT._read_entries(spark, out, hit, schema)
    return df.filter(F.col("doc_id").between(100, 149)).agg(
        F.count("*").alias("n"),
        F.sum("doc_id").alias("id_sum"),
        F.sum("n_chars").alias("chars_sum"),
    )


# --------------------------------------------------------------------------
# Dynamic partition pruning (round 6)
# --------------------------------------------------------------------------
@register(
    "q_dynamic_partition_prune",
    driver=False,  # Catalyst runtime-pruning proof; values = plain dim join
    oracle="""
WITH dim AS (
  SELECT event_type
  FROM events GROUP BY event_type
  HAVING avg(value) >= 49.0
)
SELECT e.event_type, CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) / 100.0, 2)
         AS sum_value
FROM events e JOIN dim USING (event_type)
GROUP BY e.event_type
""",
)
def q_dynamic_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning (SURVEY §4 Catalyst tier; the RUNTIME
    sibling of q_partition_prune's static pruning): the fact is the
    hive-partitioned events layout, the dim side is selected by a
    predicate on a NON-key column (HAVING avg(value) ≥ 49 — nothing
    Catalyst can statically push onto the fact's partition column), so
    the only way the fact scan avoids reading every partition is the
    broadcast side feeding its surviving keys back into the scan as a
    ``dynamicpruningexpression`` PartitionFilter at runtime. Pinned in
    tests/test_plans.py.

    Why at 100 TB: star joins where "which partitions matter" is decided
    by the dim query (last-quarter dates, active experiments) — DPP is
    what turns those into partial scans without anyone hand-writing the
    partition list. Values are layout-independent (plain dim join)."""
    import shutil

    out = os.path.join(_scratch_dir(), f"events_bytype_{_sfkey(sf_dir)}")
    if not os.path.isdir(os.path.join(out, "event_type=purchase")):
        shutil.rmtree(out, ignore_errors=True)
        table(spark, sf_dir, "events").write.partitionBy("event_type").mode(
            "overwrite"
        ).parquet(out)
    fact = spark.read.parquet(out)
    dim = (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.avg("value").alias("avg_v"))
        .filter(F.col("avg_v") >= 49.0)
        .select("event_type")
    )
    return (
        fact.join(F.broadcast(dim), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0, 2
            ).alias("sum_value"),
        )
    )


# --------------------------------------------------------------------------
# Lake CDC-apply MERGE: upserts + deletes in one commit (round 6)
# --------------------------------------------------------------------------
@register(
    "q_lake_merge_cdc",
    # driver r7–r9 (3 green rounds); rotated off r10 (VERDICT r9 #2, wave 5)
    # — q_lake_merge carries the lake write-path slot
    driver=False,
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(doc_id) AS BIGINT) AS id_sum,
       CAST(sum(n_chars) AS BIGINT) AS chars_sum
FROM (
  SELECT doc_id,
         CASE WHEN doc_id % 20 = 7 THEN CAST(-1 AS BIGINT) ELSE n_chars END
           AS n_chars
  FROM documents WHERE doc_id % 20 <> 3
  UNION ALL
  SELECT doc_id + 100000, CAST(42 AS BIGINT)
  FROM documents WHERE doc_id % 20 = 11
)
""",
)
def q_lake_merge_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-apply MERGE on the lake table (sources/laketable.merge_apply —
    the Delta ``WHEN MATCHED THEN DELETE`` arm, round 6): one binlog-style
    batch carries deletes (doc_id%20=3), in-place updates (%20=7 →
    n_chars=-1), and inserts (+100000 ids), and lands in ONE
    snapshot-isolated commit — no intermediate version where a key is
    missing mid-batch. The oracle recomputes the final state relationally.

    Scale: same stats-prune skeleton as MERGE — a CDC trickle rewrites
    O(changed key-ranges) files; a wide-range batch widens the prune
    window, which is why CDC consumers compact to final-state-per-key
    and split wild ranges upstream (q_stream_cdc_materialize's output is
    exactly the right input shape)."""
    import shutil

    from ..sources import laketable as LT

    out = os.path.join(_scratch_dir(), f"lakecdc_{_sfkey(sf_dir)}")
    shutil.rmtree(out, ignore_errors=True)
    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    LT.create_table(docs.repartitionByRange(4, "doc_id"), out)
    base = table(spark, sf_dir, "documents").select("doc_id")
    cdc = (
        base.filter(F.col("doc_id") % 20 == 3)
        .select("doc_id", F.lit(None).cast("long").alias("n_chars"),
                F.lit("D").alias("_op"))
        .unionByName(
            base.filter(F.col("doc_id") % 20 == 7).select(
                "doc_id", F.lit(-1).cast("long").alias("n_chars"),
                F.lit("U").alias("_op"),
            )
        )
        .unionByName(
            base.filter(F.col("doc_id") % 20 == 11).select(
                (F.col("doc_id") + 100000).alias("doc_id"),
                F.lit(42).cast("long").alias("n_chars"),
                F.lit("U").alias("_op"),
            )
        )
    )
    LT.merge_apply(spark, out, cdc, key="doc_id")
    return LT.read_table(spark, out).agg(
        F.count("*").alias("n_docs"),
        F.sum("doc_id").alias("id_sum"),
        F.sum("n_chars").alias("chars_sum"),
    )


# --------------------------------------------------------------------------
# Z-order clustering skip census (round 7)
# --------------------------------------------------------------------------
from ..operators.zorder import z_value_expr, z_value_sql  # noqa: E402

_Z_SQL = z_value_sql("xq", "yq", 8)


@register(
    "q_zorder_skip",
    # driver slot since r8 (VERDICT r7 #1): physical-layout / data-skipping
    oracle=f"""
WITH base AS (
  SELECT event_id,
         CAST(round(value * 100) AS BIGINT) AS xc,
         CAST(user_id AS BIGINT) AS yc
  FROM events WHERE value IS NOT NULL
), b AS (
  SELECT min(xc) AS xlo, max(xc) AS xhi, min(yc) AS ylo, max(yc) AS yhi
  FROM base
), q AS (
  SELECT event_id,
         CASE WHEN xhi - xlo <= 0 THEN 0
              ELSE CAST(((CAST(xc AS HUGEINT) - xlo) * 255)
                        // (xhi - xlo) AS BIGINT) END AS xq,
         CASE WHEN yhi - ylo <= 0 THEN 0
              ELSE CAST(((CAST(yc AS HUGEINT) - ylo) * 255)
                        // (yhi - ylo) AS BIGINT) END AS yq
  FROM base, b
), zt AS (
  SELECT event_id, xq, yq, {_Z_SQL} AS z FROM q
), t AS (
  SELECT xq, yq,
         ntile(16) OVER (ORDER BY xq, yq, event_id) AS f_lin,
         ntile(16) OVER (ORDER BY z, xq, yq, event_id) AS f_z
  FROM zt
), long_t AS (
  SELECT 'linear' AS layout, f_lin AS f, xq, yq FROM t
  UNION ALL
  SELECT 'zorder' AS layout, f_z AS f, xq, yq FROM t
), pf AS (
  SELECT layout, f,
         min(xq) AS min_x, max(xq) AS max_x,
         min(yq) AS min_y, max(yq) AS max_y,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN xq BETWEEN 96 AND 159 THEN 1 ELSE 0 END)
              AS BIGINT) AS nm_x,
         CAST(sum(CASE WHEN yq BETWEEN 96 AND 159 THEN 1 ELSE 0 END)
              AS BIGINT) AS nm_y,
         CAST(sum(CASE WHEN xq BETWEEN 96 AND 159
                        AND yq BETWEEN 96 AND 159 THEN 1 ELSE 0 END)
              AS BIGINT) AS nm_box
  FROM long_t GROUP BY 1, 2
), census AS (
  SELECT layout, 'x_band' AS pred,
         NOT (max_x < 96 OR min_x > 159) AS scanned, n, nm_x AS nm FROM pf
  UNION ALL
  SELECT layout, 'y_band', NOT (max_y < 96 OR min_y > 159), n, nm_y FROM pf
  UNION ALL
  SELECT layout, 'box',
         NOT (max_x < 96 OR min_x > 159 OR max_y < 96 OR min_y > 159),
         n, nm_box FROM pf
)
SELECT layout, pred,
       CAST(count(*) AS BIGINT) AS files_total,
       CAST(sum(CASE WHEN scanned THEN 1 ELSE 0 END) AS BIGINT)
         AS files_scanned,
       CAST(sum(CASE WHEN scanned THEN n ELSE 0 END) AS BIGINT)
         AS rows_scanned,
       CAST(sum(nm) AS BIGINT) AS rows_matching
FROM census GROUP BY layout, pred
""",
)
def q_zorder_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order vs linear layout as a file-skip census over THREE predicate
    shapes (SURVEY §2.11 lake maintenance; operators/zorder.py, round 7):
    both layouts pack the same events into 16 equal 'files' — linear sorts
    by (xq, yq), z-order by the Morton interleave — and for each predicate
    (an x band, a y band, their 2-D box, each the middle quarter of its
    dimension) the census counts files/rows a stats-pruned scan must open.
    The story the three rows tell: linear wins narrowly on its own sort
    axis (x_band), but CANNOT prune the off-axis y_band (it scans ~every
    file), while z-order prunes all three — the multi-dimensional
    trade that justifies OPTIMIZE ZORDER. rows_matching is
    layout-invariant per predicate (pruning never loses rows — the
    built-in soundness cross-check). Quantization and the interleave are
    exact integer arithmetic in both engines.

    The ntile file assignment exists ONLY to make the census
    deterministic and SQL-expressible; the production write path is
    cluster_by_z / laketable.compact_zorder (repartitionByRange on z —
    one range shuffle, no global window). Scale: the two |events|-row
    window sorts are the demo's cost, not the operator's; the census
    itself is a 96-row rollup."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    base = e.select(
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("xc"),
        F.col("user_id").cast("long").alias("yc"),
    )
    b = base.agg(
        F.min("xc").alias("xlo"),
        F.max("xc").alias("xhi"),
        F.min("yc").alias("ylo"),
        F.max("yc").alias("yhi"),
    )

    def _quant(c, lo, hi):
        # decimal(38,0) lane: overflow- and 2^53-proof, same as
        # operators.zorder.quantize_expr (ADVICE r7 #1).
        dec = "decimal(38,0)"
        span = F.col(hi).cast(dec) - F.col(lo).cast(dec)
        num = (F.col(c).cast(dec) - F.col(lo).cast(dec)) * F.lit(255).cast(dec)
        return F.when(span <= 0, F.lit(0).cast("long")).otherwise(
            ((num - num % span) / span).cast("long")
        )

    q_df = base.crossJoin(F.broadcast(b)).select(
        "event_id",
        _quant("xc", "xlo", "xhi").alias("xq"),
        _quant("yc", "ylo", "yhi").alias("yq"),
    )
    zt = q_df.select(
        "event_id", "xq", "yq", z_value_expr(F.col("xq"), F.col("yq"), 8).alias("z")
    )
    t = zt.select(
        "xq",
        "yq",
        F.ntile(16).over(Window.orderBy("xq", "yq", "event_id")).alias("f_lin"),
        F.ntile(16).over(Window.orderBy("z", "xq", "yq", "event_id")).alias("f_z"),
    )
    long_t = t.select(
        F.lit("linear").alias("layout"), F.col("f_lin").alias("f"), "xq", "yq"
    ).unionByName(
        t.select(F.lit("zorder").alias("layout"), F.col("f_z").alias("f"), "xq", "yq")
    )
    x_in = F.col("xq").between(96, 159)
    y_in = F.col("yq").between(96, 159)
    pf = long_t.groupBy("layout", "f").agg(
        F.min("xq").alias("min_x"),
        F.max("xq").alias("max_x"),
        F.min("yq").alias("min_y"),
        F.max("yq").alias("max_y"),
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(x_in, 1).otherwise(0)).cast("long").alias("nm_x"),
        F.sum(F.when(y_in, 1).otherwise(0)).cast("long").alias("nm_y"),
        F.sum(F.when(x_in & y_in, 1).otherwise(0)).cast("long").alias("nm_box"),
    )
    hit_x = ~((F.col("max_x") < 96) | (F.col("min_x") > 159))
    hit_y = ~((F.col("max_y") < 96) | (F.col("min_y") > 159))
    census = (
        pf.select(
            "layout", F.lit("x_band").alias("pred"), hit_x.alias("scanned"),
            "n", F.col("nm_x").alias("nm"),
        )
        .unionByName(
            pf.select(
                "layout", F.lit("y_band").alias("pred"), hit_y.alias("scanned"),
                "n", F.col("nm_y").alias("nm"),
            )
        )
        .unionByName(
            pf.select(
                "layout", F.lit("box").alias("pred"),
                (hit_x & hit_y).alias("scanned"), "n", F.col("nm_box").alias("nm"),
            )
        )
    )
    return census.groupBy("layout", "pred").agg(
        F.count("*").cast("long").alias("files_total"),
        F.sum(F.when(F.col("scanned"), 1).otherwise(0))
        .cast("long")
        .alias("files_scanned"),
        F.sum(F.when(F.col("scanned"), F.col("n")).otherwise(0))
        .cast("long")
        .alias("rows_scanned"),
        F.sum("nm").cast("long").alias("rows_matching"),
    )
