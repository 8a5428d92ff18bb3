"""Oracle-checked queries exercising the CTB coercion semantics
(SURVEY.md §2.2 T8-T13) against the driver fixtures.

The ingestion golden tests (tests/test_ingest_ctb.py) pin the exact
reference behavior on crafted TSVs; these queries run the ingest
coercion's own SQL (``coerce.coercion_exprs``) over the shared parquet
tables so the DuckDB oracle independently confirms the coercion rules:

- T8/T9  trim + ''→NULL            → ingest_trim_empty_null
- T10    comma-int parse + validity → ingest_comma_int_roundtrip
- T11    strict date parse          → ingest_strict_date_parse
- T13    row-validity accounting    → ingest_validity_accounting

Dirty inputs are *derived deterministically* from fixture columns with
identical SQL on both engines, so the comparison exercises the parse
path, not fixture luck.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from etl_data_ingestion_spark.catalog import load_table
from etl_data_ingestion_spark.ingest.coerce import coercion_exprs
from etl_data_ingestion_spark.plans.registry import register

TRIM_ORACLE = """
SELECT d.doc_id,
       NULLIF(TRIM(d.padded), '') AS cleaned
FROM (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN '   '
              ELSE CONCAT('  ', source, '  ') END AS padded
  FROM documents
) d
ORDER BY d.doc_id
"""


@register("ingest_trim_empty_null", oracle=TRIM_ORACLE)
def ingest_trim_empty_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8/T9: trim then ''→NULL (reference main.py:382, 387-388)."""
    docs = load_table(spark, sf_dir, "documents")
    padded = F.when(F.col("doc_id") % 5 == 0, F.lit("   ")).otherwise(
        F.concat(F.lit("  "), F.col("source"), F.lit("  "))
    )
    values, _, _ = coercion_exprs({"padded": "STRING"})
    return docs.select("doc_id", padded.alias("padded")).selectExpr(
        "doc_id", f"{values['padded']} AS cleaned"
    )


COMMA_INT_ORACLE = """
SELECT o_orderkey,
       formatted,
       CASE WHEN REGEXP_MATCHES(REPLACE(formatted, ',', ''), '^[+-]?[0-9]+$')
            THEN CAST(REPLACE(formatted, ',', '') AS BIGINT) END AS parsed,
       REGEXP_MATCHES(REPLACE(formatted, ',', ''), '^[+-]?[0-9]+$') AS is_valid
FROM (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 11 = 0 THEN CONCAT(CAST(o_orderkey AS VARCHAR), 'x')
              ELSE FORMAT('{:,}', o_orderkey) END AS formatted
  FROM orders
)
ORDER BY o_orderkey
"""


@register("ingest_comma_int_roundtrip", oracle=COMMA_INT_ORACLE)
def ingest_comma_int_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T10: thousands-separator stripped, strict integer check, failure
    → NULL + invalid flag (reference main.py:389-399). Every 11th key
    is made deliberately unparseable."""
    orders = load_table(spark, sf_dir, "orders")
    formatted = F.when(
        F.col("o_orderkey") % 11 == 0,
        F.concat(F.col("o_orderkey").cast("string"), F.lit("x")),
    ).otherwise(F.format_number(F.col("o_orderkey"), 0))
    values, _, _ = coercion_exprs({"formatted": "INTEGER"})
    # the coercion passes NULL as valid; the oracle's regex test gives
    # NULL on NULL input, so is_valid does too
    return (
        orders.select("o_orderkey", formatted.alias("formatted"))
        .selectExpr("o_orderkey", "formatted", f"{values['formatted']} AS parsed")
        .selectExpr(
            "*",
            "CASE WHEN formatted IS NOT NULL THEN parsed IS NOT NULL END AS is_valid",
        )
    )


DATE_ORACLE = """
SELECT e.event_id,
       CASE WHEN raw SIMILAR TO '[0-9]{4}-[0-9]{1,2}-[0-9]{1,2}'
            THEN STRFTIME(TRY_CAST(raw AS DATE), '%Y-%m-%d') END AS parsed_date,
       (CASE WHEN raw SIMILAR TO '[0-9]{4}-[0-9]{1,2}-[0-9]{1,2}'
             THEN TRY_CAST(raw AS DATE) END) IS NOT NULL AS is_valid
FROM (
  SELECT event_id,
         CASE WHEN event_id % 7 = 0 THEN STRFTIME(ts, '%m/%d/%Y')
              ELSE STRFTIME(ts, '%Y-%m-%d') END AS raw
  FROM events
) e
ORDER BY e.event_id
"""


@register("ingest_strict_date_parse", oracle=DATE_ORACLE)
def ingest_strict_date_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T11: strict %Y-%m-%d — a US-format date (every 7th event) fails
    closed to NULL + invalid (reference main.py:400-410)."""
    events = load_table(spark, sf_dir, "events")
    raw = F.when(
        F.col("event_id") % 7 == 0, F.date_format("ts", "MM/dd/yyyy")
    ).otherwise(F.date_format("ts", "yyyy-MM-dd"))
    values, _, _ = coercion_exprs({"raw": "DATE"})
    # the coercion passes NULL as valid; the oracle counts it invalid
    return events.select("event_id", raw.alias("raw")).selectExpr(
        "event_id",
        f"date_format({values['raw']}, 'yyyy-MM-dd') AS parsed_date",
        f"{values['raw']} IS NOT NULL AS is_valid",
    )


ACCOUNTING_ORACLE = """
WITH coerced AS (
  SELECT CASE WHEN event_id % 7 = 0 THEN FALSE ELSE TRUE END AS date_ok,
         CASE WHEN event_id % 11 = 0 THEN FALSE ELSE TRUE END AS int_ok
  FROM events
)
SELECT COUNT(*)                                                   AS total_rows,
       CAST(SUM(CASE WHEN date_ok AND int_ok THEN 1 ELSE 0 END) AS BIGINT)       AS valid_rows,
       CAST(SUM(CASE WHEN NOT (date_ok AND int_ok) THEN 1 ELSE 0 END) AS BIGINT) AS quarantined_rows
FROM coerced
"""


@register("ingest_validity_accounting", oracle=ACCOUNTING_ORACLE)
def ingest_validity_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T13: valid + quarantined == input — the conservation invariant
    the runner's partial-success policy depends on (main.py:413-414,
    470-511), computed as a single aggregate (no driver loop)."""
    events = load_table(spark, sf_dir, "events")
    date_ok = ~(F.col("event_id") % 7 == 0)
    int_ok = ~(F.col("event_id") % 11 == 0)
    row_ok = date_ok & int_ok
    return events.agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.sum(F.when(row_ok, 1).otherwise(0)).alias("valid_rows"),
        F.sum(F.when(~row_ok, 1).otherwise(0)).alias("quarantined_rows"),
    )


E2E_ORACLE = """
SELECT c_name                                           AS master_cust_name,
       CASE WHEN c_custkey % 13 = 0 THEN NULL
            ELSE CAST(c_custkey AS VARCHAR) END          AS customer_number,
       c_custkey * 7                                     AS demand_qty,
       printf('2024-01-%02d', c_custkey % 28 + 1)        AS snapshot_date
FROM (SELECT * FROM customer ORDER BY c_custkey LIMIT 5000)
WHERE c_custkey % 11 <> 0 AND c_custkey % 7 <> 0
ORDER BY master_cust_name
"""


@register("ingest_ctb_end_to_end", oracle=E2E_ORACLE)
def ingest_ctb_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1-T14 end-to-end under the oracle: a CTB TSV is generated
    deterministically from `customer` — BOM'd mixed-case aliased
    headers (T4/T5), CRLF endings (T4), padded fields (T8), empties
    (T9, every 13th), thousands-comma ints (T10), a bad int every
    11th and a US-format date every 7th (T10/T11 → row rejected,
    T13) — then ingested through the real file path
    (ingest/pipeline.py). The oracle recomputes the surviving rows
    straight from `customer`, so this single check covers header
    normalize → alias map → validate → trim → null → coerce →
    reject, against SQL ground truth. File write is driver-side
    fixture setup (bounded: one email-attachment-sized file), as in
    sources_scan.py."""
    import os

    from etl_data_ingestion_spark.ingest.pipeline import ingest_ctb_file
    from etl_data_ingestion_spark.operators.sources_scan import _scratch
    from etl_data_ingestion_spark.schema import ctb_struct_type

    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    # limit BEFORE collect: the fixture must stay email-attachment-
    # sized at any sf (the oracle applies the identical LIMIT)
    rows = cust.orderBy("c_custkey").limit(5000).collect()
    lines = ["﻿Master Cust Name\tCustomer Number\tDemand Qty\tSNAPSHOT_DATE"]
    for r in rows:
        k = r["c_custkey"]
        name = f"  {r['c_name']}  "  # padding → T8 trim
        number = "" if k % 13 == 0 else str(k)
        qty = "x" if k % 11 == 0 else f"{k * 7:,d}"
        date = "01/13/2024" if k % 7 == 0 else f"2024-01-{k % 28 + 1:02d}"
        lines.append("\t".join([name, number, qty, date]))
    path = _scratch(sf_dir, "ctb_e2e.tsv")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8", newline="") as f:
        f.write("\r\n".join(lines) + "\r\n")

    res = ingest_ctb_file(spark, path)
    # an empty customer table lands a header-only file, which fails as
    # a file and carries no frames: no valid rows
    valid = res.valid if res.ok else spark.createDataFrame([], ctb_struct_type())
    return (
        valid.select(
            F.col("MASTER_CUST_NAME").alias("master_cust_name"),
            F.col("CUSTOMER_NUMBER").alias("customer_number"),
            F.col("DEMAND_QTY").alias("demand_qty"),
            F.date_format("SNAPSHOT_DATE", "yyyy-MM-dd").alias("snapshot_date"),
        )
    )


UPSERT_ORACLE = """
-- SCD1 upsert semantics: treat events as a CDC stream of per-user
-- updates; the warehouse keeps exactly the LATEST row per key
-- (event-time, event_id as the deterministic tie-break). This is the
-- MERGE/upsert the reference's append-only BigQuery load cannot
-- express (main.py:448-468 appends blindly; dedup was left to
-- consumers).
SELECT user_id,
       event_id  AS latest_event_id,
       STRFTIME(ts, '%Y-%m-%d %H:%M:%S') AS latest_ts,
       ROUND(value, 3) AS latest_value
FROM (
  SELECT user_id, event_id, ts, value,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
ORDER BY user_id
"""


@register("warehouse_upsert_latest", oracle=UPSERT_ORACLE)
def warehouse_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-latest-per-key upsert (SCD type 1) as one windowed
    dedup — the batch form of a CDC MERGE into the warehouse.

    Scale shape: ONE hash shuffle on the key, then a per-partition
    top-1 (WindowGroupLimit pushes rn=1 into a per-partition limit
    before the full sort materializes). The streaming twin is
    dropDuplicates-within-watermark / foreachBatch MERGE; at 100 TB
    pair this with bucketed storage on user_id so repeated upsert
    batches never re-shuffle the warehouse side."""
    events = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("latest_event_id"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("latest_ts"),
            F.round("value", 3).alias("latest_value"),
        )
    )
