"""Source-format scans: csv / json / text / binaryFile (SURVEY.md
§2.5 "scans" row; §2.1 S2/T1 analogues).

Each query round-trips fixture data through a non-parquet format in a
scratch dir and reads it back with a DECLARED schema (the reference is
schema-on-write, SURVEY.md §1.3 — no inference), then aggregates; the
oracle runs the same aggregate on the parquet table, proving the
format encode/decode is lossless.

The scratch write is driver-side setup for the scan under test, not
part of the measured dataflow; paths are deterministic per sf so
re-runs overwrite.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from etl_data_ingestion_spark.catalog import cached, dir_key, load_table, table_path
from etl_data_ingestion_spark.config import SCRATCH
from etl_data_ingestion_spark.plans.registry import register


def _scratch(sf_dir: str, name: str) -> str:
    tag = f"{os.path.basename(os.path.normpath(sf_dir))}_{dir_key(sf_dir)}"
    return os.path.join(SCRATCH, tag, name)


CSV_ORACLE = """
SELECT n_regionkey, COUNT(*) AS n_nations,
       MIN(n_name) AS first_name
FROM nation
GROUP BY n_regionkey
ORDER BY n_regionkey
"""


@register("scan_csv_roundtrip", oracle=CSV_ORACLE)
def scan_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV scan with declared schema (header, quoting, multiLine):
    nation → csv → read → aggregate. T1's delimited-text scan
    (main.py:287-297) generalized to commas + quotes."""
    path = _scratch(sf_dir, "nation_csv")
    nation = load_table(spark, sf_dir, "nation")
    nation.coalesce(1).write.mode("overwrite").option("header", True).csv(path)
    back = (
        spark.read.schema("n_nationkey long, n_name string, n_regionkey long")
        .option("header", True)
        .option("multiLine", True)
        .csv(path)
    )
    return (
        back.groupBy("n_regionkey")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.min("n_name").alias("first_name"),
        )
    )


JSON_ORACLE = """
SELECT o_orderpriority, COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS total
FROM orders
WHERE o_orderkey < 3000
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register("scan_json_roundtrip", oracle=JSON_ORACLE)
def scan_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines scan with declared schema: orders slice → json →
    read → aggregate. Timestamps survive as ISO strings and are parsed
    back by the declared TimestampType."""
    path = _scratch(sf_dir, "orders_json")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 3000)
    orders.coalesce(1).write.mode("overwrite").json(path)
    back = spark.read.schema(
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
    ).json(path)
    return (
        back.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


TEXT_ORACLE = """
SELECT n_regionkey, COUNT(*) AS n_lines
FROM nation
GROUP BY n_regionkey
ORDER BY n_regionkey
"""


@register("scan_text_lines", oracle=TEXT_ORACLE)
def scan_text_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unstructured text scan: nation flattened to TSV lines via
    write.text, read back as raw lines, fields re-split — the exact
    shape of the reference's CTB attachment decode (main.py:287-297,
    split('\\n') then split('\\t'))."""
    path = _scratch(sf_dir, "nation_text")
    nation = load_table(spark, sf_dir, "nation")
    nation.select(
        F.concat_ws("\t", "n_nationkey", "n_name", "n_regionkey").alias("value")
    ).coalesce(1).write.mode("overwrite").text(path)
    back = spark.read.text(path)
    fields = F.split(F.col("value"), "\t")
    return (
        back.select(fields.getItem(2).cast("long").alias("n_regionkey"))
        .groupBy("n_regionkey")
        .agg(F.count(F.lit(1)).alias("n_lines"))
    )


BINARY_FILES_ORACLE = """
-- The blob fixtures are deterministic byte strings, so the oracle
-- reconstructs each file's exact content and digests it in SQL —
-- verifying the binaryFile scan delivered byte-identical payloads.
SELECT 'blob_' || i || '.bin'                                   AS file_name,
       octet_length(ENCODE('payload-' || i || '-' || repeat('ab', i)))  AS n_bytes,
       sha256('payload-' || i || '-' || repeat('ab', i))        AS sha256
FROM UNNEST(range(0, 10)) AS t(i)
ORDER BY file_name
"""


@register("scan_binary_files", oracle=BINARY_FILES_ORACLE)
def scan_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binaryFile scan (S4 analogue, main.py:200-219): opaque blobs
    with metadata — path, length, and a content digest computed
    distributively. The raw-landing read path for attachment-style
    ingestion. Scans a deterministic blob fixture dir (content is a
    known byte string per file, so the oracle can re-derive every
    digest; fixture write is driver-side bounded setup, same pattern
    as the TSV/CSV scan fixtures)."""
    import os

    blob_dir = _scratch(sf_dir, "blobs")
    if not os.path.exists(os.path.join(blob_dir, "_SUCCESS")):
        os.makedirs(blob_dir, exist_ok=True)
        for i in range(10):
            payload = f"payload-{i}-" + "ab" * i
            with open(os.path.join(blob_dir, f"blob_{i}.bin"), "wb") as f:
                f.write(payload.encode("utf-8"))
        with open(os.path.join(blob_dir, "_SUCCESS"), "w"):
            pass
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "blob_*.bin")
        .load(blob_dir)
    )
    return df.select(
        F.element_at(F.split("path", "/"), -1).alias("file_name"),
        F.col("length").alias("n_bytes"),
        F.sha2("content", 256).alias("sha256"),
    )


MAILBOX_ORACLE = """
SELECT CONCAT('msg-', CAST(doc_id AS VARCHAR)) AS message_id,
       CONCAT('CTB_', CAST(doc_id AS VARCHAR), '.tsv') AS filename,
       LENGTH(text) AS content_bytes
FROM documents
WHERE doc_id % 2 = 0 AND doc_id < 200
ORDER BY message_id
"""


@register("mailbox_extract_pipeline", oracle=MAILBOX_ORACLE)
def mailbox_extract_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2-S5 under the oracle: MIME-shaped message JSON synthesized
    IN-PLAN from `documents` (even doc_ids get a CTB attachment nested
    under a wrapper part, urlsafe-base64-encoded; odd ones a decoy
    'notes.txt' only), then the real extract path —
    ``extract_ctb_attachments``: one mapInPandas over the shared walk,
    first-CTB-match rule (S5, main.py:518-523,571) and urlsafe-base64
    decode (S4, main.py:214). The oracle recomputes
    which messages yield an attachment and the decoded byte length
    straight from `documents`: a wrong traversal, filename predicate,
    or decode changes the result."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    # Spark base64 chunks >76-char output with CRLF (RFC 2045); Gmail
    # payloads are continuous urlsafe — strip breaks, map alphabet,
    # drop padding exactly like urlsafe_b64encode output
    b64 = F.translate(
        F.regexp_replace(F.base64(F.encode(F.col("text"), "utf-8")), "[\\r\\n]", ""),
        "+/=",
        "-_",
    )
    ctb_part = F.struct(
        F.concat(F.lit("CTB_"), F.col("doc_id"), F.lit(".tsv")).alias("filename"),
        F.lit("text/tab-separated-values").alias("mimeType"),
        F.struct(
            F.concat(F.lit("att-"), F.col("doc_id")).alias("attachmentId"),
            b64.alias("data"),
        ).alias("body"),
    )
    decoy = F.struct(
        F.lit("notes.txt").alias("filename"),
        F.lit("text/plain").alias("mimeType"),
        F.struct(
            F.lit(None).cast("string").alias("attachmentId"),
            F.lit(None).cast("string").alias("data"),
        ).alias("body"),
    )
    wrapper = F.struct(
        F.lit("").alias("filename"),
        F.lit("multipart/mixed").alias("mimeType"),
        F.struct(
            F.lit(None).cast("string").alias("attachmentId"),
            F.lit(None).cast("string").alias("data"),
        ).alias("body"),
        F.when(F.col("doc_id") % 2 == 0, F.array(decoy, ctb_part)).otherwise(
            F.array(decoy)
        ).alias("parts"),
    )
    msg = F.to_json(
        F.struct(
            F.concat(F.lit("msg-"), F.col("doc_id")).alias("id"),
            wrapper.alias("payload"),
        )
    )
    raw = docs.select(msg.alias("value"))

    from etl_data_ingestion_spark.sources.mailbox import extract_ctb_attachments

    return extract_ctb_attachments(raw, prefix="CTB").select(
        "message_id",
        "filename",
        F.length("content").alias("content_bytes"),
    )


SCHEMA_EVO_ORACLE = """
SELECT n_regionkey,
       COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN has_comment THEN 1 ELSE 0 END) AS BIGINT) AS rows_with_new_col
FROM (
  SELECT n_regionkey, FALSE AS has_comment FROM nation
  UNION ALL
  SELECT n_regionkey, TRUE  AS has_comment FROM nation
)
GROUP BY n_regionkey
ORDER BY n_regionkey
"""


@register("scan_parquet_schema_evolution", oracle=SCHEMA_EVO_ORACLE)
def scan_parquet_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: batch 1 lands without a column, batch
    2 adds `extra_comment`; mergeSchema=true reads both with the union
    schema, old rows NULL-filled — how a long-lived landing table
    absorbs upstream schema drift without rewriting history. (Default
    reads take one footer's schema; merge is opt-in because footer
    merging costs a pass over file metadata — at 100 TB pin the schema
    in a catalog instead.)"""
    path = _scratch(sf_dir, "nation_evolving")
    nation = load_table(spark, sf_dir, "nation")
    nation.select("n_nationkey", "n_regionkey").write.mode("overwrite").parquet(path)
    nation.select(
        "n_nationkey", "n_regionkey", F.concat(F.lit("c-"), "n_name").alias("extra_comment")
    ).write.mode("append").parquet(path)
    merged = spark.read.option("mergeSchema", True).parquet(path)
    return (
        merged.groupBy("n_regionkey")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.when(F.col("extra_comment").isNotNull(), 1).otherwise(0)
            ).alias("rows_with_new_col"),
        )
    )


PARTITION_PRUNE_ORACLE = """
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS total
FROM orders
WHERE o_orderpriority = '1-URGENT'
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


@register("scan_partitioned_pruning", oracle=PARTITION_PRUNE_ORACLE)
def scan_partitioned_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned layout + partition pruning: orders
    written partitionBy(o_orderpriority), then a filter on the
    partition column — the scan's PartitionFilters prune to ONE
    directory, reading 1/5 of the data with zero row-level filtering.
    At 100 TB partition-on-ingest by the dominant filter column is the
    single highest-leverage layout decision (tests assert the
    PartitionFilters appear and Spark reports pruned partitions)."""
    path = _scratch(sf_dir, "orders_partitioned")
    orders = load_table(spark, sf_dir, "orders")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        orders.write.mode("overwrite").partitionBy("o_orderpriority").parquet(path)
    # explicit schema: on populated data this only skips inference
    # (same scan plan); on an EMPTY source the partitioned dir has no
    # data files at all and inference raises UNABLE_TO_INFER_SCHEMA
    # (empty-corpus sweep, round 14)
    part = (
        spark.read.schema(orders.schema)
        .parquet(path)
        .filter(F.col("o_orderpriority") == "1-URGENT")
    )
    return (
        part.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


DATASOURCE_ORACLE = """
SELECT CONCAT('m-', CAST(doc_id AS VARCHAR)) AS message_id,
       CONCAT('CTB_', CAST(doc_id AS VARCHAR), '.tsv') AS filename,
       LENGTH(text) AS content_bytes
FROM documents
WHERE doc_id % 2 = 0 AND doc_id < 120
ORDER BY message_id
"""


@register("mailbox_datasource_scan", oracle=DATASOURCE_ORACLE)
def mailbox_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered custom connector under the oracle:
    spark.read.format("mailbox") over a landing dir of message-JSON
    files (synthesized from `documents`: even doc_ids carry a CTB
    attachment, odd ones only a decoy). The reader's partitioned
    scan and its prefix filter, plus the shared first-match rule and
    urlsafe decode (``mailbox.first_ctb_attachment``), all have to be
    right for the byte counts to match the oracle's recompute from
    `documents`."""
    import base64
    import json

    from etl_data_ingestion_spark.sources.mailbox_datasource import (
        MailboxDataSource,
    )

    landing = _scratch(sf_dir, "mailbox_landing")
    marker = os.path.join(landing, "_COMPLETE")
    if not os.path.exists(marker):
        os.makedirs(landing, exist_ok=True)
        docs = (
            load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 120)
            .select("doc_id", "text")
            .collect()
        )
        for r in docs:
            i = r["doc_id"]
            parts = [{"filename": "notes.txt", "mimeType": "text/plain", "body": {}}]
            if i % 2 == 0:
                data = (
                    base64.urlsafe_b64encode(r["text"].encode())
                    .decode()
                    .rstrip("=")
                )
                parts.append(
                    {
                        "filename": f"CTB_{i}.tsv",
                        "mimeType": "text/tab-separated-values",
                        "body": {"data": data},
                    }
                )
            msg = {"id": f"m-{i}", "payload": {"parts": parts}}
            with open(os.path.join(landing, f"msg_{i:06d}.json"), "w") as f:
                json.dump(msg, f)
        open(marker, "w").close()

    spark.dataSource.register(MailboxDataSource)
    df = (
        spark.read.format("mailbox")
        .option("filenamePrefix", "CTB")
        .option("numPartitions", 8)
        .load(landing)
    )
    return df.select(
        "message_id",
        "filename",
        F.length("content").alias("content_bytes"),
    )


ORC_ORACLE = """
SELECT s_nationkey, COUNT(*) AS n_suppliers,
       ROUND(SUM(s_acctbal), 2) AS total_bal
FROM supplier
GROUP BY s_nationkey
ORDER BY s_nationkey
"""


@register("scan_orc_roundtrip", oracle=ORC_ORACLE)
def scan_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC scan: supplier → orc → read → aggregate. Spark's second
    first-class columnar format (vectorized reader, predicate pushdown
    and column pruning like parquet) — the format choice a warehouse
    migration actually encounters. The oracle aggregates the original
    parquet; matching output proves the ORC write/read preserved
    values and types."""
    path = _scratch(sf_dir, "supplier_orc")
    supplier = load_table(spark, sf_dir, "supplier")
    supplier.coalesce(1).write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return (
        back.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.round(F.sum("s_acctbal"), 2).alias("total_bal"),
        )
    )


DPP_ORACLE = """
-- Dynamic-partition-pruning shape: the dim side (distinct priorities
-- whose name starts '1-' or '2-') only exists at runtime, and the
-- join key IS the partition column, so Spark prunes the partitioned
-- fact's directories with a dynamicpruning subquery instead of
-- scanning all 5. Semantically the join against the derived dim is
-- a filter, which is what the oracle states directly.
SELECT o_orderpriority, o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS total
FROM orders
WHERE o_orderpriority LIKE '1-%' OR o_orderpriority LIKE '2-%'
GROUP BY o_orderpriority, o_orderstatus
ORDER BY o_orderpriority, o_orderstatus
"""


@register("scan_partitioned_dpp", oracle=DPP_ORACLE)
def scan_partitioned_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: scan_partitioned_pruning shows
    STATIC pruning (literal filter on the partition column); this is
    the join-driven case — the selective dim is computed at runtime
    (a scan+filter, not a literal), so Catalyst can only prune the
    partitioned fact via a DPP subquery (PartitionFilters:
    [dynamicpruningexpression(...)], asserted by
    tests/test_round4_ops.py::test_dpp_fires_on_partitioned_join).

    At 100 TB this is THE mechanism that makes star-schema joins on a
    date/tenant-partitioned fact cheap: the dim filter runs first and
    only matching fact directories are listed/read — no code change,
    but the layout must partition on the join key (which the
    partitioned writer here does)."""
    path = _scratch(sf_dir, "orders_partitioned")
    orders = load_table(spark, sf_dir, "orders")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        orders.write.mode("overwrite").partitionBy("o_orderpriority").parquet(path)
    # explicit schema for the same reason as scan_partitioned_pruning:
    # an empty source leaves the partitioned dir without data files
    fact = spark.read.schema(orders.schema).parquet(path)
    dim = (
        orders.select("o_orderpriority")
        .distinct()
        .filter(
            F.col("o_orderpriority").startswith("1-")
            | F.col("o_orderpriority").startswith("2-")
        )
        .withColumnRenamed("o_orderpriority", "p")
    )
    return (
        fact.join(F.broadcast(dim), fact.o_orderpriority == dim.p)
        .groupBy("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


XML_ORACLE = """
-- XML roundtrip (Spark 4 built-in XML datasource): supplier written
-- as row-tagged XML, read back with a declared schema, aggregated.
-- The semi-structured-feed format the reference's ecosystem would
-- hand an ingestion pipeline after CSV and JSON.
SELECT s_nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_suppliers,
       ROUND(SUM(s_acctbal), 2) AS total_acctbal
FROM supplier
GROUP BY s_nationkey
ORDER BY s_nationkey
"""


@register("scan_xml_roundtrip", oracle=XML_ORACLE)
def scan_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML scan (built-in datasource since Spark 4 — the spark-xml
    package merged upstream): supplier → rowTag XML → declared-schema
    read → aggregate. Completes the scan family (csv/json/text/
    binary/orc/parquet-evolution/partitioned/xml); schema is declared
    rather than inferred, the discipline every production feed scan
    follows (inference is a full extra pass and drifts silently)."""
    path = _scratch(sf_dir, "supplier_xml")
    supplier = load_table(spark, sf_dir, "supplier")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        supplier.coalesce(1).write.mode("overwrite").format("xml").option(
            "rootTag", "suppliers"
        ).option("rowTag", "supplier").save(path)
    back = (
        spark.read.schema(
            "s_suppkey long, s_name string, s_nationkey int, s_acctbal double"
        )
        .option("rowTag", "supplier")
        .format("xml")
        .load(path)
    )
    return (
        back.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.round(F.sum("s_acctbal"), 2).alias("total_acctbal"),
        )
    )


CSV_PERMISSIVE_ORACLE = """
-- PERMISSIVE corrupt-record scan: a CSV is synthesized from customer
-- with every 7th row deliberately malformed (non-numeric key field).
-- The reader must load in PERMISSIVE mode, capture the bad rows in
-- _corrupt_record instead of failing, and account both populations.
-- Malformed-ness is a pure function of c_custkey so the oracle
-- recomputes the split exactly.
SELECT
  CAST(SUM(CASE WHEN c_custkey % 7 = 3 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_corrupt,
  CAST(SUM(CASE WHEN c_custkey % 7 <> 3 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_good,
  CAST(SUM(CASE WHEN c_custkey % 7 <> 3 THEN c_custkey END) AS BIGINT)
    AS good_key_sum
FROM customer WHERE c_custkey < 2000
"""


@register("scan_csv_permissive_corrupt", oracle=CSV_PERMISSIVE_ORACLE)
def scan_csv_permissive_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's native malformed-record policy surface (the engine-level
    complement of the T7 row-quarantine transform): write a CSV with
    planted malformed rows (every 7th key swapped for a non-numeric
    token), read it back in PERMISSIVE mode with a _corrupt_record
    column, and account good vs corrupt populations plus an exact
    checksum over the surviving keys. At scale this is the
    don't-fail-the-job posture: corrupt rows become data (routed to
    quarantine sinks), never exceptions."""
    path = _scratch(sf_dir, "customer_corrupt_csv")
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 2000)
        .select("c_custkey", "c_name")
    )
    # plant malformation: key becomes a non-numeric token on %7==3 rows
    lines = cust.select(
        F.concat_ws(
            ",",
            F.when(
                F.col("c_custkey") % 7 == 3, F.lit("BADKEY")
            ).otherwise(F.col("c_custkey").cast("string")),
            F.col("c_name"),
        ).alias("value")
    )
    lines.coalesce(1).write.mode("overwrite").text(path)
    back = (
        spark.read.schema(
            "c_custkey long, c_name string, _corrupt_record string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )
    # cached() before splitting on _corrupt_record: Spark documents that
    # querying ONLY the corrupt column of a lazy CSV relation is
    # disallowed/unreliable without materializing alongside data cols
    back = cached(back)
    return back.agg(
        F.sum(
            F.when(F.col("_corrupt_record").isNotNull(), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_corrupt"),
        F.sum(F.when(F.col("_corrupt_record").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_good"),
        F.sum(
            F.when(F.col("_corrupt_record").isNull(), F.col("c_custkey"))
        )
        .cast("long")
        .alias("good_key_sum"),
    )


BUCKETED_JOIN_ORACLE = """
-- Bucketed-storage co-located join: values are the plain aggregate;
-- zero_exchange pins the PLAN property (no shuffle in the bucketed
-- fact-fact SortMergeJoin) that tests/test_bucketing.py proves —
-- here surfaced as an in-plan receipt so the driver value-checks it.
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT)        AS n_items,
       ROUND(SUM(l_extendedprice), 2)  AS revenue,
       TRUE                            AS zero_exchange
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderkey < 20000
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register("scan_bucketed_join_zero_exchange", oracle=BUCKETED_JOIN_ORACLE)
def scan_bucketed_join_zero_exchange(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bucketed warehouse storage joined WITHOUT a shuffle — the
    100 TB fact-fact strategy (pay the Exchange once at write time,
    every subsequent join is map-side): write both sides bucketed by
    the join key (4 buckets, sorted), join the bucketed tables with a
    merge hint, capture the formatted plan, and emit `zero_exchange`
    = no Exchange operator present — so the claim is value-checked by
    the driver, not just pytest-asserted. Unique external-table names
    + scratch paths keep the vanilla session's catalog clean-ish
    (session-scoped, files under .scratch)."""
    import contextlib
    import io
    import os

    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") < 20000)
        .select("l_orderkey", "l_extendedprice")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 20000)
        .select("o_orderkey", "o_orderpriority")
    )
    li_name, ord_name = f"li_bkt_{tag}", f"ord_bkt_{tag}"
    li.write.bucketBy(4, "l_orderkey").sortBy("l_orderkey").option(
        "path", _scratch(sf_dir, "li_bucketed")
    ).mode("overwrite").saveAsTable(li_name)
    orders.write.bucketBy(4, "o_orderkey").sortBy("o_orderkey").option(
        "path", _scratch(sf_dir, "ord_bucketed")
    ).mode("overwrite").saveAsTable(ord_name)
    lb, ob = spark.table(li_name), spark.table(ord_name)
    joined = lb.hint("merge").join(
        ob, lb.l_orderkey == ob.o_orderkey
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        joined.explain("formatted")
    zero_exchange = "Exchange" not in buf.getvalue()
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        )
        .select(
            "o_orderpriority",
            "n_items",
            "revenue",
            F.lit(zero_exchange).alias("zero_exchange"),
        )
    )


CSV_MULTILINE_ORACLE = """
-- Multiline quoted-CSV roundtrip: a CSV is synthesized from customer
-- whose comment field embeds NEWLINES and COMMAS (quoted per RFC
-- 4180); the reader must reassemble logical records across physical
-- lines (multiLine mode). The comment is a pure function of the
-- customer row, so the oracle recomputes every aggregate from the
-- parquet source directly — if the reader splits records on the
-- embedded newlines, counts, key sums and lengths all diverge.
SELECT COUNT(*) AS n_rows,
       CAST(SUM(c_custkey) AS BIGINT) AS key_sum,
       CAST(SUM(length(c_name || chr(10) || 'memo, with comma' ||
                       chr(10) || c_mktsegment)) AS BIGINT)
         AS comment_chars,
       CAST(SUM(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END)
            AS BIGINT) AS building_rows
FROM customer WHERE c_custkey < 3000
"""


@register("scan_csv_multiline_quoted", oracle=CSV_MULTILINE_ORACLE)
def scan_csv_multiline_quoted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC-4180 multiline CSV: fields with embedded newlines and
    commas survive a write/read roundtrip only if the reader parses
    quoted fields across physical lines (multiLine=true) — the
    messy-CSV reality check missing from the clean-roundtrip and
    corrupt-row scans.

    SCALE WARNING (the honest part): multiLine=true makes a CSV file
    NON-SPLITTABLE — records can span line boundaries, so Spark
    assigns ONE task per file instead of one per 128 MB split. At
    100 TB that is the difference between 800k tasks and |files|
    tasks: production either converts multiline data to parquet at
    the edge or shards it into many small files upstream. This
    operator verifies correctness of the path AND documents why it
    must not be the steady-state format."""
    path = _scratch(sf_dir, "customer_multiline_csv")
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 3000)
        .select(
            "c_custkey",
            F.concat_ws(
                "\n", F.col("c_name"), F.lit("memo, with comma"),
                F.col("c_mktsegment"),
            ).alias("comment"),
            "c_mktsegment",
        )
    )
    (
        cust.coalesce(1)
        .write.mode("overwrite")
        .option("quoteAll", True)
        .csv(path)
    )
    back = (
        spark.read.schema("c_custkey long, comment string, c_mktsegment string")
        .option("multiLine", True)
        .csv(path)
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("c_custkey").cast("long").alias("key_sum"),
        F.sum(F.length("comment")).cast("long").alias("comment_chars"),
        F.sum(
            F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0)
        )
        .cast("long")
        .alias("building_rows"),
    )
