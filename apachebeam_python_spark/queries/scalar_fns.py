"""Scalar function library queries (SURVEY.md §2.7).

The reference expresses these as raw Python inside DoFns; here they are Spark
built-ins (JVM-side, codegen'd — no Python boundary). Each family gets one
oracle-checked query; dialect-parity notes inline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import table
from ._registry import register


@register(
    "q_fn_array",
    driver=False,  # rotated off r8: §2.7 keeps q_fn_scalar + q_json_extract
    oracle="""
SELECT
  vec_id,
  label,
  len(embedding)                                             AS dim,
  round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))), 3) AS l1_sum,
  round(CAST(list_min(embedding) AS DOUBLE), 6)              AS vmin,
  round(CAST(list_max(embedding) AS DOUBLE), 6)              AS vmax,
  round(CAST(embedding[1] AS DOUBLE), 6)                     AS first_dim,
  len(list_filter(embedding, x -> x > 0))                    AS n_pos
FROM embeddings
""",
)
def q_fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array family over the multimodal embedding column (SURVEY §2.7/§2.11):
    size/aggregate/min/max/element_at/filter — all JVM-side higher-order
    functions, no UDF. Floats are cast to double BEFORE rounding in both
    engines so float32 representation noise can't flip the rounded value."""
    e = table(spark, sf_dir, "embeddings")
    emb = F.col("embedding")
    return e.select(
        "vec_id",
        "label",
        F.size(emb).alias("dim"),
        F.round(
            F.aggregate(emb, F.lit(0.0), lambda acc, x: acc + x.cast("double")), 3
        ).alias("l1_sum"),
        F.round(F.array_min(emb).cast("double"), 6).alias("vmin"),
        F.round(F.array_max(emb).cast("double"), 6).alias("vmax"),
        F.round(F.element_at(emb, 1).cast("double"), 6).alias("first_dim"),
        F.size(F.filter(emb, lambda x: x > 0)).alias("n_pos"),
    )


@register(
    "q_fn_map",
    # DuckDB MAP semantics differ, but the query's OUTPUT is plain strings —
    # the oracle reconstructs them directly (keys sort lang < source), so the
    # whole map round-trip is value-checked (upgraded from rows-only, round 2)
    oracle="""
SELECT doc_id,
       'lang=' || coalesce(lang, '') || ',source=' || coalesce(source, '') AS meta,
       'lang,source'                           AS meta_keys,
       coalesce(lang, '')                      AS lang_val
FROM documents
""",
    driver=False,  # rotated off r6 (VERDICT r5 #4): §2.7 keeps scalar/array/json slots
)
def q_fn_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map family: map_from_entries / map_entries / map_keys / element_at.
    The map itself is emitted as sorted ``k=v`` CSV (and keys as CSV) — raw
    map/array cells crash the driver's pandas canonicalizer even for the
    rows-only count (same class as VERDICT r1 #2). Map values are coalesced
    to '' in BOTH engines: Spark's concat_ws silently skips NULLs while
    DuckDB's || propagates them, so uncoalesced NULLs would diverge under a
    fixture regen (ADVICE r2)."""
    d = table(spark, sf_dir, "documents")
    m = F.map_from_entries(
        F.array(
            F.struct(
                F.lit("lang").alias("k"),
                F.coalesce(F.col("lang"), F.lit("")).alias("v"),
            ),
            F.struct(
                F.lit("source").alias("k"),
                F.coalesce(F.col("source"), F.lit("")).alias("v"),
            ),
        )
    )
    meta_csv = F.array_join(
        F.transform(
            F.array_sort(F.map_entries(m)),
            lambda e: F.concat_ws("=", e["key"], e["value"]),
        ),
        ",",
    )
    return d.select(
        "doc_id",
        meta_csv.alias("meta"),
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("meta_keys"),
        F.element_at(m, "lang").alias("lang_val"),
    )


@register(
    "q_fn_scalar",
    oracle="""
SELECT
  o_orderkey,
  -- string family (on o_orderpriority / o_clerk-free columns)
  upper(o_orderpriority)                                   AS prio_up,
  length(o_orderpriority)                                  AS prio_len,
  substring(o_orderpriority, 1, 3)                         AS prio_pfx,
  regexp_extract(o_orderpriority, '(\\d)-(\\w+)', 2)       AS prio_word,
  concat_ws('|', o_orderstatus, o_orderpriority)           AS status_prio,
  lpad(CAST(o_custkey AS VARCHAR), 8, '0')                 AS cust_pad,
  replace(o_orderpriority, '-', '_')                       AS prio_snake,
  trim('  ' || o_orderstatus || ' ')                       AS status_trim,
  instr(o_orderpriority, 'URGENT')                         AS urgent_at,
  -- date/time family (on o_orderdate)
  year(o_orderdate)                                        AS yr,
  month(o_orderdate)                                       AS mo,
  day(o_orderdate)                                         AS dom,
  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)      AS month_start,
  date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since,
  -- TIMESTAMP, not DATE: DuckDB DATE → pandas datetime64 vs Spark
  -- datetime.date — stringified canon mismatch (round-2 harness finding)
  CAST(CAST(o_orderdate AS DATE) + 30 AS TIMESTAMP)        AS due_date,
  CAST(epoch(o_orderdate) AS BIGINT)                       AS epoch_s,
  -- math family (on o_totalprice / keys)
  round(sqrt(o_totalprice), 6)                             AS price_sqrt,
  round(ln(o_totalprice + 1), 6)                           AS price_ln,
  CAST(floor(o_totalprice / 1000) AS BIGINT)               AS price_k,
  CAST(ceil(o_totalprice / 1000) AS BIGINT)                AS price_k_ceil,
  round(abs(o_totalprice - 150000), 2)                     AS price_dev,
  CAST(sign(o_totalprice - 150000) AS DOUBLE)              AS price_sign,
  -- depth 7 (2-dec price / 1e5): rounding at 6 hits half-way cases where
  -- Spark (decimal HALF_UP) and DuckDB (binary) disagree — SURVEY §7.4.4
  round(greatest(o_totalprice / 100000, 1.0), 7)           AS rate_hi,
  round(least(o_totalprice / 100000, 1.0), 7)              AS rate_lo,
  o_orderkey % 7                                           AS key_mod7,
  -- conditional family
  CASE WHEN o_totalprice < 50000 THEN 'small'
       WHEN o_totalprice < 200000 THEN 'medium'
       ELSE 'large' END                                    AS size_tier,
  coalesce(nullif(o_orderstatus, 'O'), 'OPEN')             AS status_alias,
  CASE WHEN o_custkey % 2 = 0 THEN round(o_totalprice, 2) ELSE 0 END AS even_cust_price
FROM orders
WHERE year(o_orderdate) = 1997
""",
)
def q_fn_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SURVEY §2.7 scalar-function families — string, date/time, math,
    conditional — in ONE driver row over a single table scan. All JVM-side
    codegen'd expressions, no Python boundary; the WHERE year(...)=1997
    predicate is pushdown-eligible. Dialect notes: Spark ``floor``/``ceil``
    return LONG and ``signum`` DOUBLE where DuckDB returns DOUBLE and TINYINT
    (oracle casts to BIGINT / DOUBLE); DATE outputs → TIMESTAMP; ``instr`` is
    1-based with 0 for no-match in both; ``datediff`` is a calendar-day
    difference ≡ DuckDB ``date_diff('day', …)`` on DATEs; ``unix_timestamp``
    under a UTC session ≡ DuckDB ``epoch`` on naive ts (cast to BIGINT)."""
    o = table(spark, sf_dir, "orders").filter(F.year("o_orderdate") == 1997)
    return o.select(
        "o_orderkey",
        F.upper("o_orderpriority").alias("prio_up"),
        F.length("o_orderpriority").alias("prio_len"),
        F.substring("o_orderpriority", 1, 3).alias("prio_pfx"),
        F.regexp_extract("o_orderpriority", r"(\d)-(\w+)", 2).alias("prio_word"),
        F.concat_ws("|", "o_orderstatus", "o_orderpriority").alias("status_prio"),
        F.lpad(F.col("o_custkey").cast("string"), 8, "0").alias("cust_pad"),
        F.replace(F.col("o_orderpriority"), F.lit("-"), F.lit("_")).alias("prio_snake"),
        F.trim(F.concat(F.lit("  "), F.col("o_orderstatus"), F.lit(" "))).alias("status_trim"),
        F.instr(F.col("o_orderpriority"), "URGENT").alias("urgent_at"),
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date")).alias("days_since"),
        F.date_add(F.col("o_orderdate").cast("date"), 30).cast("timestamp").alias("due_date"),
        F.unix_timestamp("o_orderdate").alias("epoch_s"),
        F.round(F.sqrt("o_totalprice"), 6).alias("price_sqrt"),
        F.round(F.log(F.col("o_totalprice") + 1), 6).alias("price_ln"),
        F.floor(F.col("o_totalprice") / 1000).alias("price_k"),
        F.ceil(F.col("o_totalprice") / 1000).alias("price_k_ceil"),
        F.round(F.abs(F.col("o_totalprice") - 150000), 2).alias("price_dev"),
        F.signum(F.col("o_totalprice") - 150000).alias("price_sign"),
        F.round(F.greatest(F.col("o_totalprice") / 100000, F.lit(1.0)), 7).alias("rate_hi"),
        F.round(F.least(F.col("o_totalprice") / 100000, F.lit(1.0)), 7).alias("rate_lo"),
        (F.col("o_orderkey") % 7).alias("key_mod7"),
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 200000, "medium")
        .otherwise("large")
        .alias("size_tier"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("OPEN")).alias("status_alias"),
        F.when(F.col("o_custkey") % 2 == 0, F.round("o_totalprice", 2)).otherwise(0.0).alias(
            "even_cust_price"
        ),
    )


@register(
    "q_regex",
    driver=False,  # §2.2 Beam Regex transform family — pytest oracle
    oracle="""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, 's[a-z]+')) AS BIGINT) AS n_s_words,
       regexp_extract(text, '(s[a-z]+)', 1)                     AS first_s,
       CAST((length(text) - length(regexp_replace(text, 'stream', '', 'g')))
            / 6 AS BIGINT)                                      AS n_stream,
       CASE WHEN regexp_matches(text, 'table|scan') THEN 1 ELSE 0 END
                                                                AS has_tbl_scan,
       substr(regexp_replace(text, 'table', 'tbl', 'g'), 1, 40) AS replaced_head
FROM documents
""",
)
def q_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beam's ``Regex`` transform family (matches / find_all / replace_all)
    in one projection: match-count via ``regexp_extract_all``, first match,
    occurrence count via replace-and-measure, boolean match, and a global
    replace — all in the Java∩RE2 pattern subset both engines parse
    identically (plain literals and character classes, no lookaround).
    Note Spark's ``regexp_replace`` is global by default where DuckDB
    needs the explicit ``'g'`` flag — an easy silent-divergence trap.

    Scale: pure codegen projection fused into the scan — zero shuffles,
    zero Python."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit("s[a-z]+"), F.lit(0)))
        .cast("long")
        .alias("n_s_words"),
        F.regexp_extract("text", "(s[a-z]+)", 1).alias("first_s"),
        (
            (
                F.length("text")
                - F.length(F.regexp_replace("text", "stream", ""))
            )
            / 6
        )
        .cast("long")
        .alias("n_stream"),
        F.col("text").rlike("table|scan").cast("int").alias("has_tbl_scan"),
        F.substring(
            F.regexp_replace("text", "table", "tbl"), 1, 40
        ).alias("replaced_head"),
    )


@register(
    "q_xml_extract",
    # driver slot since r10 (VERDICT r9 #2, wave 5): first external grade of
    # the Spark 4 native from_xml path
    oracle="""
WITH x AS (
  SELECT event_id,
         '<event type="' || event_type || '"><k>'
           || CAST(CAST(json_extract_string(props, '$.k') AS BIGINT)
                   AS VARCHAR)
           || '</k><id>' || CAST(event_id AS VARCHAR) || '</id></event>'
           AS xml
  FROM events WHERE props IS NOT NULL
)
SELECT event_id,
       regexp_extract(xml, 'type="([^"]*)"', 1)          AS xml_type,
       CAST(regexp_extract(xml, '<k>([0-9]+)</k>', 1)
            AS BIGINT)                                   AS xml_k,
       regexp_extract(xml, 'type="([^"]*)"', 1)          AS xp_type,
       CAST(regexp_extract(xml, '<id>([0-9]+)</id>', 1)
            AS BIGINT)                                   AS xp_id
FROM x
""",
)
def q_xml_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML column extraction — the third semi-structured format next to
    JSON (q_json_extract) and VARIANT (q_variant_json): Spark 4's native
    ``from_xml`` (schema'd struct parse; attributes surface under the
    ``_`` prefix) AND the Hive ``xpath_*`` family, both exercised on the
    same synthesized payload. The oracle re-derives every field with
    regexes (DuckDB has no XML engine) — a cross-parser agreement check:
    a real XML parser and a pattern extractor must see identical values
    on well-formed single-level documents.

    Scale: both parse paths are per-row codegen'd expressions (no
    Python, no shuffle); ``from_xml`` decodes once into a struct — at
    100 TB project the struct ONCE and read fields from it rather than
    re-running xpath per field (same decode-once economics as
    q_variant_json)."""
    e = table(spark, sf_dir, "events").filter(F.col("props").isNotNull())
    xml = F.concat(
        F.lit('<event type="'), F.col("event_type"), F.lit('"><k>'),
        F.get_json_object("props", "$.k").cast("long").cast("string"),
        F.lit("</k><id>"), F.col("event_id").cast("string"),
        F.lit("</id></event>"),
    )
    parsed = F.from_xml(xml, "_type STRING, k BIGINT, id BIGINT")
    return e.select(
        "event_id",
        parsed.getField("_type").alias("xml_type"),
        parsed.getField("k").alias("xml_k"),
        F.xpath_string(xml, F.lit("/event/@type")).alias("xp_type"),
        F.xpath_long(xml, F.lit("/event/id")).alias("xp_id"),
    )


@register(
    "q_sql_udf",
    driver=False,  # §2.10 SQL-language UDF surface (round 4) — pytest oracle
    oracle="""
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                                 * 10000) AS BIGINT)) AS BIGINT) / 10000.0, 2)
         AS charge_sum,
       round(min(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                            * 10000) AS BIGINT)) / 10000.0, 4) AS charge_min
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag
""",
)
def q_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-language scalar UDF (SURVEY §2.10 — Spark 4's
    ``CREATE TEMPORARY FUNCTION … RETURNS … RETURN expr``, the Beam-SQL
    ``CREATE FUNCTION`` analogue): a ``charge_u(price, disc, tax)``
    function defined in SQL, then used inside an aggregation. The function
    body is pure expression code, so Catalyst INLINES it — the plan is
    identical to writing the expression by hand (no UDF call boundary,
    full codegen, pushdown unaffected). The oracle states the inlined
    expression.

    Engine parity (round-7 fix, caught by the sf0.1 full-registry sweep):
    the original body returned ``round(expr, 4)`` as a DOUBLE — Spark's
    BigDecimal HALF_UP and DuckDB's double rounding disagree by 1e-4 on
    boundary rows, and at 10× rows the accumulated drift crossed a cent in
    two groups. The UDF now returns exact integer 1e-4 units
    (``round(expr·10000)`` of a positive double — the established
    engine-stable op), so the sum is exact int64 (≈5.6e13 at sf0.1;
    widen to 128-bit past sf~100) and the only doubles are the final
    exactly-representable divisions.

    Scale: zero cost over the hand-written expression — the named
    function is purely a reuse/veneer surface, which is exactly the
    property worth proving here."""
    from ..session import register_views

    register_views(spark, sf_dir)
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION charge_u(price DOUBLE, disc DOUBLE, tax DOUBLE)
        RETURNS BIGINT
        RETURN CAST(round(price * (1 - disc) * (1 + tax) * 10000) AS BIGINT)
        """
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               count(*) AS n,
               round(sum(charge_u(l_extendedprice, l_discount, l_tax)) / 1e4, 2)
                 AS charge_sum,
               round(min(charge_u(l_extendedprice, l_discount, l_tax)) / 1e4, 4)
                 AS charge_min
        FROM lineitem
        WHERE l_shipdate <= DATE '1998-09-02'
        GROUP BY l_returnflag
        """
    )
