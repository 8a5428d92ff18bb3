"""UDF/UDAF surface: Arrow-batched pandas UDFs (SURVEY.md §2.5).

The hot path stays JVM-side everywhere else in this engine; these
queries exist to exercise the python-interop surface itself — scalar
``pandas_udf`` (vectorized, Arrow batch transfer), grouped
``applyInPandas`` (UDAF), and ``mapInPandas`` (batch iterator) — each
with a DuckDB oracle proving the Arrow round-trip is lossless.

Determinism notes: money truncation uses FLOOR(x·100)/100 — floor on
bit-identical doubles is engine-stable, unlike ROUND at a decimal
boundary. Group aggregates are reduced in pandas with float64 sums on
few groups; results rounded at 2dp on both sides.
"""

from __future__ import annotations

import pandas as pd

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import pandas_udf

from etl_data_ingestion_spark.catalog import load_table
from etl_data_ingestion_spark.functions.numeric import fixed
from etl_data_ingestion_spark.plans.registry import register

PANDAS_SCALAR_ORACLE = """
SELECT l_orderkey, l_linenumber,
       FLOOR(l_extendedprice * (1 - l_discount) * 100) / 100 AS net_trunc
FROM lineitem
WHERE l_orderkey < 1000
ORDER BY l_orderkey, l_linenumber
"""


@register("pandas_scalar_net_value", oracle=PANDAS_SCALAR_ORACLE)
def pandas_scalar_net_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar pandas_udf: vectorized net-value computation over Arrow
    batches. IEEE doubles are bit-identical to the JVM/DuckDB result,
    so the oracle checks the Arrow transfer end-to-end."""
    import numpy as np

    @pandas_udf("double")
    def net_trunc(price: pd.Series, discount: pd.Series) -> pd.Series:
        return np.floor(price * (1 - discount) * 100) / 100

    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 1000)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        net_trunc("l_extendedprice", "l_discount").alias("net_trunc"),
    )


GROUPED_UDAF_ORACLE = """
SELECT l_returnflag,
       ROUND(SUM(l_extendedprice * l_quantity) / SUM(l_quantity), 2)
         AS qty_weighted_price
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register("pandas_grouped_weighted_avg", oracle=GROUPED_UDAF_ORACLE)
def pandas_grouped_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped UDAF via applyInPandas: quantity-weighted average price
    per return flag. The groupBy shuffles once on the key; each group
    reduces inside a single Arrow batch. (For a skewed key at 100 TB,
    pre-aggregate the two sums JVM-side instead — this query is the
    interop check, not the recommended plan.)"""

    def weighted(pdf: pd.DataFrame) -> pd.DataFrame:
        w = pdf["l_quantity"].sum()
        v = (pdf["l_extendedprice"] * pdf["l_quantity"]).sum()
        return pd.DataFrame(
            {
                "l_returnflag": [pdf["l_returnflag"].iloc[0]],
                "qty_weighted_price": [round(v / w, 2)],
            }
        )

    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select("l_returnflag", "l_extendedprice", "l_quantity")
        .groupBy("l_returnflag")
        .applyInPandas(weighted, "l_returnflag string, qty_weighted_price double")
    )


MAP_BATCH_ORACLE = """
SELECT doc_id,
       CAST(LEN(regexp_split_to_array(TRIM(text), '\\s+')) AS BIGINT) AS n_tokens,
       CAST(LENGTH(text) AS BIGINT) AS n_chars
FROM documents
WHERE TRIM(text) <> ''
ORDER BY doc_id
"""


@register("pandas_map_batches_tokens", oracle=MAP_BATCH_ORACLE)
def pandas_map_batches_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas batch iterator: per-document token/char counts
    computed in pandas string ops. Python str.split() ≡ regex \\s+ on
    trimmed non-empty text, so the SQL oracle reproduces it exactly.
    Batch shape (iterator of DataFrames) is the same plumbing the
    multimodal decode operators use."""

    def stats(batches):
        for pdf in batches:
            t = pdf["text"].str.strip()
            mask = t != ""
            pdf = pdf[mask]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_tokens": t[mask].str.split().str.len().astype("int64"),
                    "n_chars": pdf["text"].str.len().astype("int64"),
                }
            )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInPandas(
        stats, "doc_id long, n_tokens long, n_chars long"
    )


UDTF_ORACLE = """
-- Python UDTF parity: one output row per sentence ('.'-separated
-- non-empty segments), with its index and token count — recomputable
-- exactly in SQL. The fixture text has no periods, so sentences are
-- planted deterministically by replacing every 7th space with '. '.
WITH dotted AS (
  SELECT doc_id,
         list_aggregate(
           list_transform(
             regexp_split_to_array(trim(text), '\\s+'),
             -- duckdb lambda index is 1-based; (i-1) aligns with
             -- spark's 0-based transform index
             (w, i) -> CASE WHEN (i - 1) % 7 = 0 AND i > 1 THEN '. ' || w
                            ELSE ' ' || w END
           ), 'string_agg', '') AS t
  FROM documents WHERE doc_id < 100
), sentences AS (
  SELECT doc_id, i - 1 AS sentence_idx,
         trim(regexp_split_to_array(t, '\\.')[i]) AS s
  FROM dotted, UNNEST(range(1, len(regexp_split_to_array(t, '\\.')) + 1)) u(i)
)
SELECT doc_id,
       CAST(sentence_idx AS INT) AS sentence_idx,
       s AS sentence,
       CAST(len(regexp_split_to_array(s, '\\s+')) AS INT) AS n_tokens
FROM sentences
WHERE s <> ''
ORDER BY doc_id, sentence_idx
"""


@register("udtf_sentence_split", oracle=UDTF_ORACLE)
def udtf_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table function, Spark 4 API): text → one row per
    sentence with index and token count — the lateral-view shape
    (one input row fans out to N output rows with their own schema)
    that scalar/grouped/map pandas APIs don't express.

    The UDTF runs per input ROW (its python overhead scales with row
    count, unlike Arrow-batched mapInPandas) — right for fan-out
    transforms whose per-row work dominates, here as API-surface
    coverage. Sentences are planted by replacing every 7th space with
    '. ' so the oracle can recompute the exact fan-out."""
    import pyspark.sql.functions as F
    from pyspark.sql.functions import udtf

    @udtf(returnType="sentence_idx int, sentence string, n_tokens int")
    class SentenceSplit:
        def eval(self, text: str):
            for i, raw in enumerate((text or "").split(".")):
                s = raw.strip()
                if s:
                    yield i, s, len(s.split())

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    toks = F.split(F.trim(F.col("text")), r"\s+")
    dotted = F.array_join(
        F.transform(
            toks,
            lambda w, i: F.when((i % 7 == 0) & (i > 0), F.concat(F.lit(". "), w))
            .otherwise(F.concat(F.lit(" "), w)),
        ),
        "",
    )
    spark.udtf.register("sentence_split", SentenceSplit)
    prepared = docs.select("doc_id", dotted.alias("t"))
    prepared.createOrReplaceTempView("udtf_input")
    return spark.sql(
        "SELECT doc_id, s.sentence_idx, s.sentence, s.n_tokens "
        "FROM udtf_input, LATERAL sentence_split(t) s"
    )


COGROUP_ORACLE = """
-- Cogrouped reconciliation: per order, compare the lineitem net sum
-- (exact integer cents) against o_totalprice (exact cents) and
-- account the discrepancy distribution per order priority — the
-- ledger-vs-detail audit every warehouse runs. The oracle is the
-- plain relational form; the operator exercises Spark's COGROUPED
-- applyInPandas (two DataFrames grouped on the same key, each
-- group pair handed to one pandas function) — the python-interop
-- mechanism the other pandas ops don't cover. TPC-H totalprice
-- includes tax/charge so the delta is structurally nonzero; the
-- audit quantifies it exactly.
WITH li AS (
  SELECT l_orderkey,
         SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                  AS BIGINT)) AS net_cents,
         COUNT(*) AS n_lines
  FROM lineitem WHERE l_orderkey < 4000 GROUP BY 1
), o AS (
  SELECT o_orderkey, o_orderpriority,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS total_cents
  FROM orders WHERE o_orderkey < 4000
)
SELECT o.o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CASE WHEN li.net_cents IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS orders_without_lines,
       CAST(SUM(COALESCE(li.n_lines, 0)) AS BIGINT) AS n_lines,
       CAST(SUM(ABS(o.total_cents - COALESCE(li.net_cents, 0)))
            AS BIGINT) AS abs_delta_cents
FROM o LEFT JOIN li ON li.l_orderkey = o.o_orderkey
GROUP BY 1 ORDER BY 1
"""


@register("pandas_cogroup_reconcile", oracle=COGROUP_ORACLE)
def pandas_cogroup_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ledger-vs-detail reconciliation via COGROUPED applyInPandas:
    orders and lineitem grouped on orderkey, each (order-group,
    line-group) pair reconciled in one pandas function — completing
    the python-interop surface (scalar pandas_udf, grouped
    applyInPandas, mapInPandas, UDTF, and now cogroup).

    Plan: both sides shuffle once on the cogroup key (exactly the
    co-partitioning a join would do). The key is a BUCKET
    (orderkey % 64), not the raw orderkey — round-9 perf fix: keying
    on the order itself produced ~1k one-row pandas groups at sf0.1
    and ~11ms of per-group Arrow/pandas overhead each (11.1s
    measured); with chunky buckets the same per-order reconciliation
    runs VECTORIZED inside each batch (pandas groupby + merge) and
    the overhead amortizes ~group-size-fold. This is the standard
    scaling pattern for cogrouped applyInPandas: never give the
    Python boundary more groups than you have cores' worth of work.

    ARROW-FLOOR CONTRACT (r9 verdict #4; PLANS.md "Round-9:
    cogrouped-applyInPandas per-group overhead"): after the bucket
    fix this operator measures ~1.1-1.3s at sf0.1 under the bench
    protocol while the DuckDB oracle runs ~0.03s — that residue is
    the FLOOR of the cogroup surface itself (two shuffles + Arrow
    encode/decode of every row across the Python boundary + a
    Python worker round-trip), not plan waste; measured per-batch
    overhead is ~11ms per (Arrow batch + pandas frame) construction
    pair, so any future cogroup operator should (a) bucket its key
    so batches carry >= thousands of rows, (b) expect ~1s of
    irreducible overhead at toy scale, and (c) justify itself by
    logic SQL can't express, because a pure-SQL equivalent skips
    the boundary entirely.
    Cents are snapped to exact integers BEFORE the pandas boundary
    so the arithmetic is integer-exact end to end (Arrow ships
    int64, no float round-trip). At 100 TB cogroup is shuffle-bound
    like the equivalent join — the pandas stage adds Arrow
    serialization, which is why production reserves cogroup for
    logic SQL can't express."""
    li = (
        load_table(spark, sf_dir, "lineitem", parallel=False)
        .filter(F.col("l_orderkey") < 4000)
        .select(
            "l_orderkey",
            fixed(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2)
            .alias("net_cents"),
        )
    )
    orders = (
        load_table(spark, sf_dir, "orders", parallel=False)
        .filter(F.col("o_orderkey") < 4000)
        .select(
            "o_orderkey",
            "o_orderpriority",
            fixed(F.col("o_totalprice"), 2).alias("total_cents"),
        )
    )

    def reconcile(odf: pd.DataFrame, ldf: pd.DataFrame) -> pd.DataFrame:
        if odf.empty:
            # lines without an order header are out of audit scope
            return pd.DataFrame(
                columns=["o_orderpriority", "no_lines", "n_lines", "abs_delta"]
            ).astype(
                {"no_lines": "int32", "n_lines": "int64", "abs_delta": "int64"}
            )
        if ldf.empty:
            agg = pd.DataFrame(
                {"l_orderkey": pd.Series(dtype="int64"),
                 "net": pd.Series(dtype="int64"),
                 "n": pd.Series(dtype="int64")}
            )
        else:
            g = ldf.groupby("l_orderkey")["net_cents"]
            agg = pd.DataFrame(
                {"l_orderkey": g.sum().index,
                 "net": g.sum().values,
                 "n": g.count().values}
            )
        m = odf.merge(
            agg, left_on="o_orderkey", right_on="l_orderkey", how="left"
        )
        n = m["n"].fillna(0).astype("int64")
        net = m["net"].fillna(0).astype("int64")
        return pd.DataFrame(
            {
                "o_orderpriority": m["o_orderpriority"],
                "no_lines": (n == 0).astype("int32"),
                "n_lines": n,
                "abs_delta": (m["total_cents"] - net).abs().astype("int64"),
            }
        )

    per_order = orders.groupBy(
        (F.col("o_orderkey") % 64).alias("b")
    ).cogroup(
        li.groupBy((F.col("l_orderkey") % 64).alias("b"))
    ).applyInPandas(
        reconcile,
        "o_orderpriority string, no_lines int, n_lines long, abs_delta long",
    )
    return (
        per_order.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("no_lines").cast("long").alias("orders_without_lines"),
            F.sum("n_lines").cast("long").alias("n_lines"),
            F.sum("abs_delta").cast("long").alias("abs_delta_cents"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------- wave 23: mapInArrow batch surface

ARROW_MAP_ORACLE = """
-- mapInArrow parity: per-document byte and whitespace-token counts
-- computed over raw Arrow RecordBatches (pyarrow.compute, zero
-- pandas) — the lowest-overhead Python batch surface, completing
-- the interop family (scalar pandas_udf, grouped/cogrouped
-- applyInPandas, mapInPandas, UDTF). utf8 byte length = octet
-- count; token count = whitespace split of trimmed non-empty text,
-- both exactly recomputable in SQL.
SELECT doc_id,
       CAST(strlen(text) AS BIGINT) AS n_bytes,
       CAST(CASE WHEN TRIM(text) = '' THEN 0
            ELSE LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\\s+')) END
            AS BIGINT) AS n_tokens
FROM documents
ORDER BY doc_id
"""


def arrow_token_count_batches(batches):
    """Arrow RecordBatch generator behind pandas_map_in_arrow_tokens,
    module-level so tests can drive it over synthetic edge-whitespace
    docs. Trim is ASCII space ONLY (pc.utf8_trim(text, ' ')) to match
    the oracle's SQL TRIM and the repo-wide tokens() convention —
    utf8_trim_whitespace would strip tabs/newlines the SQL side keeps
    (round-10 advisor fix); the \\s+ split itself is Unicode-aware in
    both engines, so only the EDGES differed."""
    import pyarrow as pa
    import pyarrow.compute as pc

    for batch in batches:
        doc_id = batch.column("doc_id")
        text = batch.column("text")
        n_bytes = pc.binary_length(text)
        trimmed = pc.utf8_trim(text, " ")
        toks = pc.split_pattern_regex(trimmed, r"\s+")
        n_tokens = pc.if_else(
            pc.equal(trimmed, ""),
            pa.scalar(0, pa.int32()),
            pc.list_value_length(toks),
        )
        yield pa.RecordBatch.from_arrays(
            [
                doc_id,
                pc.cast(n_bytes, pa.int64()),
                pc.cast(n_tokens, pa.int64()),
            ],
            names=["doc_id", "n_bytes", "n_tokens"],
        )


@register("pandas_map_in_arrow_tokens", oracle=ARROW_MAP_ORACLE)
def pandas_map_in_arrow_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow over raw RecordBatches with pyarrow.compute kernels
    (see oracle): binary_length for utf8 bytes, and a trim+split
    token count — all columnar, no pandas materialization. The Arrow
    batch iterator is the same plumbing mapInPandas uses one level
    down; batch size follows spark.sql.execution.arrow\
.maxRecordsPerBatch."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInArrow(
        arrow_token_count_batches, "doc_id long, n_bytes long, n_tokens long"
    ).orderBy("doc_id")
