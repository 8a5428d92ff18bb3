"""Corpus-shaping operators between cleaning and tokenization
(BASELINE.json north star, alongside curation.py): C4-style line-level
filtering, duplicated-span detection (the substring-dedup tier), and
overlapping-window chunking for embedding/retrieval pipelines.

Everything is JVM array/regexp expressions or a single well-keyed
shuffle; each query has an exact DuckDB oracle. Fixture docs are
single-line word streams (no sentence punctuation), so the line ops
synthesize fixed-width 10-token pseudo-lines — the operator shape
(split → per-line rule filter → order-preserving reassembly) is the
real C4 pass; a corpus with newlines swaps the splitter only.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from etl_data_ingestion_spark.catalog import cached, load_table
from etl_data_ingestion_spark.functions.numeric import fixed
from etl_data_ingestion_spark.functions.text import (
    BPE_ISH_PATTERN,
    tokens,
    word_ngrams_from,
)
from etl_data_ingestion_spark.plans.registry import register

C4_LINE_ORACLE = """
-- C4-style line-level cleaning (Raffel et al. 2020 §2.2 adapted to
-- line-free fixture docs): split into 10-token pseudo-lines, keep a
-- line iff it has >=5 words AND contains a stopword (the fixture
-- analogue of C4's terminal-punctuation + >=3-words rules), reassemble
-- survivors in order. Per-doc accounting of lines kept and bytes
-- retained.
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts
  FROM documents
), l AS (
  SELECT doc_id,
         list_transform(range(0, CAST(ceil(len(ts) / 10.0) AS BIGINT)),
                        i -> list_slice(ts, i * 10 + 1, i * 10 + 10)) AS lines
  FROM t
), k AS (
  SELECT doc_id, len(lines) AS n_lines,
         list_filter(lines,
           x -> len(x) >= 5 AND
                len(list_filter(x, w -> w IN ('the','a','of','and','to','in'))) > 0
         ) AS kept
  FROM l
)
SELECT doc_id,
       CAST(n_lines AS BIGINT) AS n_lines,
       CAST(len(kept) AS BIGINT) AS n_kept,
       -- COALESCE: duckdb array_to_string(NULL-from-empty) yields
       -- NULL where spark's array_join gives ''; 0-length either way
       CAST(COALESCE(length(array_to_string(
              list_transform(kept, x -> array_to_string(x, ' ')), ' ')), 0)
            AS BIGINT) AS cleaned_len,
       ROUND(len(kept) * 1.0 / n_lines, 4) AS kept_frac
FROM k
ORDER BY doc_id
"""


@register("text_c4_line_filter", oracle=C4_LINE_ORACLE)
def text_c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line filter: per-document split into lines, drop lines
    failing cheap rules, reassemble the survivors in order. All array
    higher-order functions on the document's own row — a map-only
    stage with NO explode and NO shuffle, which is what makes the C4
    pass viable at 100 TB (the alternative explode-lines → filter →
    groupBy-reassemble shuffles every line of the corpus and needs an
    order column to restore line order)."""
    docs = load_table(spark, sf_dir, "documents")
    ts = F.split(F.trim(F.col("text")), r"\s+")
    n_lines = F.ceil(F.size(ts) / F.lit(10.0)).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), n_lines - 1),
        lambda i: F.slice(ts, i * 10 + 1, 10),
    )
    stops = F.array(*[F.lit(w) for w in ("the", "a", "of", "and", "to", "in")])
    kept = F.filter(
        lines,
        lambda x: (F.size(x) >= 5)
        & (F.size(F.filter(x, lambda w: F.array_contains(stops, w))) > 0),
    )
    cleaned = F.array_join(
        F.transform(kept, lambda x: F.array_join(x, " ")), " "
    )
    return docs.select(
        "doc_id",
        n_lines.cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept"),
        F.length(cleaned).cast("long").alias("cleaned_len"),
        F.round(F.size(kept) / n_lines.cast("double"), 4).alias("kept_frac"),
    )


DUP_SPANS_ORACLE = """
-- Duplicated-span detection (the scalable stand-in for suffix-array
-- exact substring dedup, Lee et al. 2021): a doc's 8-gram is
-- "duplicated" iff the same 8-gram occurs in ANY other document.
-- Per-doc share of duplicated 8-grams — the signal used to drop or
-- trim boilerplate-heavy documents.
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts
  FROM documents
), grams AS (
  SELECT DISTINCT doc_id, array_to_string(list_slice(ts, i, i + 7), ' ') AS g
  FROM toks, UNNEST(range(1, len(ts) - 6)) u(i)
  WHERE len(ts) >= 8
), tot AS (
  SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY doc_id
), shared AS (
  SELECT g FROM grams GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2
), dup AS (
  SELECT doc_id, COUNT(*) AS n_dup
  FROM grams WHERE g IN (SELECT g FROM shared)
  GROUP BY doc_id
)
SELECT t.doc_id, t.n_grams,
       COALESCE(d.n_dup, 0) AS n_dup_grams,
       ROUND(COALESCE(d.n_dup, 0) * 1.0 / t.n_grams, 4) AS dup_frac
FROM tot t LEFT JOIN dup d USING (doc_id)
ORDER BY t.doc_id
"""


@register("dedup_duplicated_spans", oracle=DUP_SPANS_ORACLE)
def dedup_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-span fraction: explode each document's
    distinct word 8-grams, find grams appearing in >=2 distinct docs
    (one shuffle keyed on the gram), semi-join back, and report the
    per-doc duplicated share.

    Scale shape (restructured round 5 after profiling at sf1): the
    8-gram build (interpreted HOF — transform isn't codegen'd) is
    the dominant cost, so it must (a) run exactly ONCE and (b) run
    WIDE. The original shape evaluated the n-gram build in two branches
    (explode + a map-only array-size total) and its size()>0 filter
    was predicate-pushed through the repartition back into the
    narrow scan stage — 167s at sf1 with the HOF running twice on
    1-2 tasks. Now: parallel scan (load_table parallel=True →
    post-scan repartition), ONE explode, gram table persisted for
    its three consumers, per-doc totals aggregated from the
    exploded rows (grams are per-doc-distinct by construction, so
    count == the array size; docs with zero grams simply have no
    rows, which removes the filter the pushdown trap rode in on).
    Measured 167s → ~13s at sf1. At 100 TB the production variant
    ships `xxhash64(gram)` (8-byte keys) through the shuffle instead
    of the gram text — identical plan, ~10× narrower rows; the
    string form is kept here so the oracle compares exact values.
    This is the scalable stand-in for suffix-array substring dedup,
    which has no distributed-friendly formulation."""
    docs = load_table(spark, sf_dir, "documents", parallel=True)
    # three consumers below; the HOF must not re-run
    grams = cached(
        docs.select("doc_id", tokens("text").alias("toks"))
        .select("doc_id", F.explode(word_ngrams_from("toks", 8)).alias("g"))
    )
    tot = grams.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams")
    )
    # (doc_id, g) pairs are distinct by construction (word_ngrams_from
    # dedups per doc), so plain count == count_distinct(doc_id) minus
    # the expand + extra aggregation level a distinct agg would plan
    shared = (
        grams.groupBy("g")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("g")
    )
    dup = (
        grams.join(shared, "g", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_dup"))
    )
    return (
        tot.join(dup, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce(F.col("n_dup"), F.lit(0)).alias("n_dup_grams"),
            F.round(
                F.coalesce(F.col("n_dup"), F.lit(0)) / F.col("n_grams"), 4
            ).alias("dup_frac"),
        )
    )


CHUNK_ORACLE = """
-- Overlapping-window chunking (embedding/retrieval prep): 64-token
-- windows at stride 48 (16-token overlap), at least one chunk per
-- document, short tail chunks kept. Emits per-chunk token and char
-- accounting — the unit of work every downstream embedder consumes.
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts
  FROM documents
), c AS (
  SELECT doc_id, i AS chunk_idx,
         list_slice(ts, i * 48 + 1, i * 48 + 64) AS ck
  FROM toks, UNNEST(range(0, (len(ts) - 1) // 48 + 1)) u(i)
)
SELECT doc_id,
       CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST(len(ck) AS BIGINT) AS n_tokens,
       CAST(length(array_to_string(ck, ' ')) AS BIGINT) AS n_chars
FROM c
ORDER BY doc_id, chunk_idx
"""


@register("pipeline_chunk_documents", oracle=CHUNK_ORACLE)
def pipeline_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking into overlapping token windows (size 64,
    stride 48) — the fan-out stage feeding embedding models and
    retrieval indexes. Built as transform-over-sequence + posexplode:
    the window construction is per-row array math (no shuffle); the
    explode multiplies rows ~n_tokens/48× which is the OUTPUT size,
    not overhead. At 100 TB chunking is embarrassingly parallel and
    this plan keeps it a single map stage."""
    docs = load_table(spark, sf_dir, "documents")
    ts = F.split(F.trim(F.col("text")), r"\s+")
    n_chunks = (F.floor((F.size(ts) - 1) / 48) + 1).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.slice(ts, i * 48 + 1, 64),
    )
    exploded = docs.select(
        "doc_id", F.posexplode(chunks).alias("chunk_idx", "ck")
    )
    return exploded.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.size("ck").cast("long").alias("n_tokens"),
        F.length(F.array_join("ck", " ")).cast("long").alias("n_chars"),
    )


PACK_SEQUENCES_ORACLE = """
-- Sequence-packing accounting (the step between a curated corpus and
-- a training dataloader): documents are concatenated in a canonical
-- order and chunked into fixed 2048-token context windows
-- (concat-and-chunk, the GPT-style packing); each doc is attributed
-- to the window its FIRST token lands in. Pure prefix-sum math, so
-- both engines compute identical assignments: per window, how many
-- docs start there, how many tokens it holds, and its fill ratio
-- (interior windows are exactly full by construction; only the tail
-- window can be short).
WITH toks AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]'))
           AS n_tokens
  FROM documents
), pref AS (
  SELECT doc_id, n_tokens,
         SUM(n_tokens) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
           AS start_offset
  FROM toks
), assigned AS (
  -- CAST: SUM() OVER returns HUGEINT in DuckDB and // propagates it;
  -- pandas has no int128 dtype so a HUGEINT seq_id comes back as
  -- float64 (0.0, 1.0, ...) against Spark's int64 — the r5/r6 driver
  -- hash red. BIGINT keeps both engines emitting int64.
  SELECT doc_id, n_tokens,
         CAST(start_offset // 2048 AS BIGINT) AS seq_id,
         start_offset
  FROM pref
), tot AS (SELECT SUM(n_tokens) AS total FROM toks)
SELECT seq_id,
       CAST(COUNT(*) AS BIGINT) AS docs_starting,
       CAST(LEAST((seq_id + 1) * 2048, (SELECT total FROM tot))
            - seq_id * 2048 AS BIGINT) AS window_tokens,
       -- integer-exact ratio: tokens*10000 is an exact double, /2048
       -- (a power of two) is exact, so both engines see identical
       -- input; FLOOR(x+0.5) is deterministic half-up regardless of
       -- each engine's ROUND tie mode — removes the ROUND(double, k)
       -- representation edge that hash-differed at the driver (r5)
       CAST(FLOOR((LEAST((seq_id + 1) * 2048, (SELECT total FROM tot))
              - seq_id * 2048) * 10000.0 / 2048.0 + 0.5) AS BIGINT)
         / 10000.0 AS fill_ratio
FROM assigned
GROUP BY seq_id
ORDER BY seq_id
"""


@register("pipeline_pack_sequences", oracle=PACK_SEQUENCES_ORACLE)
def pipeline_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: canonical doc order →
    global token prefix sum → fixed 2048-token windows; docs
    attributed to the window holding their first token. The
    dataloader-shaping step every pretraining pipeline runs after
    curation.

    Scale note: the global prefix sum is an unpartitioned window —
    fine for accounting output (|docs| rows through one task is the
    yardstick tier), but at 100 TB packing runs PER SHARD: partition
    the corpus (by hash or curriculum bucket), pack within shards
    independently (each shard's windows are self-contained), and the
    cross-shard remainder is at most one short window per shard —
    the standard trade that keeps packing embarrassingly parallel.
    The per-shard math is exactly this plan with the window
    partitioned by shard key."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.size(
            F.regexp_extract_all("text", F.lit(BPE_ISH_PATTERN), 0)
        ).alias("n_tokens"),
    )
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    pref = toks.withColumn(
        "start_offset", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    total = pref.groupBy().agg(
        (F.sum("n_tokens")).alias("total")
    )
    assigned = pref.withColumn(
        "seq_id", (F.col("start_offset") / 2048).cast("long")
    )
    win_end = F.least(
        (F.col("seq_id") + 1) * 2048, F.col("total")
    )
    return (
        assigned.groupBy("seq_id")
        .agg(F.count(F.lit(1)).alias("docs_starting"))
        .crossJoin(F.broadcast(total))
        .select(
            "seq_id",
            "docs_starting",
            (win_end - F.col("seq_id") * 2048).cast("long").alias(
                "window_tokens"
            ),
            (
                fixed((win_end - F.col("seq_id") * 2048) * 10000.0 / 2048.0, 0)
                / F.lit(10000.0)
            ).alias("fill_ratio"),
        )
    )


PACK_SEQUENCES_SHARDED_ORACLE = """
-- Sharded packing: the 100 TB variant pipeline_pack_sequences'
-- docstring promises — the prefix sum is PARTITIONED by shard, so
-- every shard packs independently (embarrassingly parallel) and the
-- cross-shard cost is bounded: interior windows are exactly full by
-- the least() construction, so each shard has AT MOST ONE short
-- window (its tail). The oracle recomputes the per-shard window
-- assignment and pins that bound.
WITH toks AS (
  SELECT doc_id, doc_id % 8 AS shard_id,
         len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]'))
           AS n_tokens
  FROM documents
), pref AS (
  SELECT shard_id, doc_id, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY shard_id ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
           AS start_offset
  FROM toks
), tot AS (
  SELECT shard_id, SUM(n_tokens) AS shard_total
  FROM toks GROUP BY shard_id
), win AS (
  SELECT p.shard_id, p.start_offset // 2048 AS seq_id,
         COUNT(*) AS docs_starting,
         LEAST((p.start_offset // 2048 + 1) * 2048, t.shard_total)
           - (p.start_offset // 2048) * 2048 AS window_tokens
  FROM pref p JOIN tot t USING (shard_id)
  GROUP BY p.shard_id, p.start_offset // 2048, t.shard_total
)
SELECT w.shard_id,
       CAST(SUM(w.docs_starting) AS BIGINT) AS docs,
       CAST(MAX(t.shard_total) AS BIGINT) AS shard_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_windows,
       CAST(SUM(CASE WHEN w.window_tokens < 2048 THEN 1 ELSE 0 END)
            AS BIGINT) AS short_windows,
       SUM(CASE WHEN w.window_tokens < 2048 THEN 1 ELSE 0 END) <= 1
         AS remainder_bound_ok
FROM win w JOIN tot t USING (shard_id)
GROUP BY w.shard_id
ORDER BY w.shard_id
"""


@register("pipeline_pack_sequences_sharded", oracle=PACK_SEQUENCES_SHARDED_ORACLE)
def pipeline_pack_sequences_sharded(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sharded concat-and-chunk packing — the scale path the
    unpartitioned yardstick (pipeline_pack_sequences) documents:
    partition the corpus by a shard key (hash/curriculum bucket;
    doc_id % 8 here so the oracle can reproduce it), run the token
    prefix sum WITHIN each shard (Window.partitionBy(shard_id) — one
    ordinary shuffle, every shard packs in parallel, no single-task
    bottleneck), and accept the bounded cross-shard cost: interior
    windows are exactly full by construction, so each shard carries
    AT MOST ONE short window (its tail). The query emits per-shard
    accounting and the remainder bound as an in-plan boolean the
    oracle pins from its own recomputation — at 1000 shards on
    100 TB the waste is <=1 window per shard, i.e. vanishing, while
    packing remains embarrassingly parallel."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        (F.col("doc_id") % 8).alias("shard_id"),
        F.size(
            F.regexp_extract_all("text", F.lit(BPE_ISH_PATTERN), 0)
        ).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard_id")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    pref = toks.withColumn(
        "start_offset", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    tot = toks.groupBy("shard_id").agg(
        F.sum("n_tokens").alias("shard_total")
    )
    assigned = pref.withColumn(
        "seq_id", (F.col("start_offset") / 2048).cast("long")
    )
    win_tokens = (
        F.least((F.col("seq_id") + 1) * 2048, F.col("shard_total"))
        - F.col("seq_id") * 2048
    )
    win = (
        assigned.groupBy("shard_id", "seq_id")
        .agg(F.count(F.lit(1)).alias("docs_starting"))
        .join(F.broadcast(tot), "shard_id")
        .withColumn("window_tokens", win_tokens)
    )
    short = F.sum((F.col("window_tokens") < 2048).cast("long"))
    return (
        win.groupBy("shard_id")
        .agg(
            F.sum("docs_starting").alias("docs"),
            F.max("shard_total").alias("shard_tokens"),
            F.count(F.lit(1)).alias("n_windows"),
            short.alias("short_windows"),
        )
        .select(
            "shard_id",
            "docs",
            "shard_tokens",
            "n_windows",
            "short_windows",
            (F.col("short_windows") <= 1).alias("remainder_bound_ok"),
        )
    )


VOCAB_BUILD_ORACLE = """
-- Tokenizer-vocabulary construction accounting: count BPE-ish
-- pre-tokens over the corpus, rank by frequency (ties by token), and
-- report the top-50 with cumulative corpus coverage — the analysis a
-- tokenizer-training run does before choosing vocab size. Window
-- cumulative sum over the ranked vocabulary.
WITH tok AS (
  SELECT UNNEST(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]'))
           AS t
  FROM documents
), counts AS (
  SELECT t, COUNT(*) AS c FROM tok GROUP BY t
), total AS (
  SELECT SUM(c) AS n FROM counts
), ranked AS (
  SELECT t, c,
         ROW_NUMBER() OVER (ORDER BY c DESC, t) AS rk,
         SUM(c) OVER (ORDER BY c DESC, t
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM counts
)
SELECT rk, t AS token, CAST(c AS BIGINT) AS occurrences,
       ROUND(cum * 1.0 / (SELECT n FROM total), 6) AS cumulative_coverage
FROM ranked WHERE rk <= 50
ORDER BY rk
"""


@register("pipeline_vocab_coverage", oracle=VOCAB_BUILD_ORACLE)
def pipeline_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage analysis for tokenizer sizing: corpus
    pre-token counts, frequency ranking, cumulative coverage curve
    (what fraction of all token OCCURRENCES the top-k vocabulary
    explains). Scale shape: the token explode + count is one
    partial-aggregated Exchange on token keys; the ranking window
    then runs on the VOCABULARY-sized table (bounded by distinct
    tokens, not corpus size), and the global total is a broadcast
    scalar. The coverage curve is what decides 32k vs 64k vs 128k
    vocab — computed in-engine instead of sampling corpora into a
    notebook."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(
            F.regexp_extract_all("text", F.lit(BPE_ISH_PATTERN), 0)
        ).alias("t")
    )
    counts = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    total = counts.agg(F.sum("c").alias("n"))
    w = Window.orderBy(F.desc("c"), "t")
    ranked = counts.select(
        "t",
        "c",
        F.row_number().over(w).alias("rk"),
        F.sum("c")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum"),
    ).filter(F.col("rk") <= 50)
    return (
        ranked.crossJoin(F.broadcast(total))
        .select(
            "rk",
            F.col("t").alias("token"),
            F.col("c").cast("long").alias("occurrences"),
            F.round(F.col("cum") / F.col("n"), 6).alias(
                "cumulative_coverage"
            ),
        )
        .orderBy("rk")
    )


SHARD_ASSIGN_ORACLE = """
-- Deterministic training-shard assignment: every document hashes to
-- one of 16 output shards via a Knuth multiplicative hash (engine-
-- independent bigint arithmetic — both engines compute the same
-- shard, unlike murmur3/xxhash whose seeds differ per engine), and
-- the report is the shard MANIFEST a distributed shard-writer
-- emits: per-shard doc/token totals plus a balance contract pinning
-- max/min shard occupancy under 1.25 — the property that makes
-- hash-sharding usable (no straggler shard at write time).
WITH assigned AS (
  SELECT ((doc_id * 2654435761) % 4294967296) % 16 AS shard,
         n_chars,
         LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS n_tokens
  FROM documents
), per AS (
  SELECT shard, COUNT(*) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         CAST(SUM(n_chars) AS BIGINT) AS total_chars
  FROM assigned GROUP BY shard
)
SELECT shard, n_docs, total_tokens, total_chars,
       (MAX(n_docs) OVER () * 1.0 / MIN(n_docs) OVER ()) < 1.25
         AS balanced
FROM per
ORDER BY shard
"""


@register("pipeline_shard_assignment", oracle=SHARD_ASSIGN_ORACLE)
def pipeline_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-sharding manifest for distributed training-shard writes:
    one map-only hash per doc, one 16-group aggregate, a window over
    the 16-row result for the balance contract. This is the planning
    half of `df.repartition(N, hash).write` — at 100 TB the same
    expression feeds repartition() so each shard is written by
    exactly one task, and the manifest (this output) is what the
    data loader uses to size epochs. The hash is multiplicative
    (Knuth 1973, A*=2654435761/2^32) rather than Spark's murmur3 so
    the DuckDB oracle reproduces it bit-for-bit; doc_id*A stays
    under 2^63 for any plausible doc count, so no overflow in either
    engine."""
    docs = load_table(spark, sf_dir, "documents")
    shard = (
        (F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296)
    ) % 16
    n_tokens = (
        F.length("text")
        - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        + 1
    )
    per = (
        docs.select(
            shard.alias("shard"),
            "n_chars",
            n_tokens.alias("n_tokens"),
        )
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )
    w = Window.partitionBy()
    return per.select(
        "shard",
        "n_docs",
        "total_tokens",
        "total_chars",
        (
            F.max("n_docs").over(w) * 1.0 / F.min("n_docs").over(w) < 1.25
        ).alias("balanced"),
    ).orderBy("shard")


LENGTH_BUCKET_ORACLE = """
-- Length-bucketed batch planning: documents bucket by next-power-of-2
-- token length (the standard padding-minimization strategy for
-- sequence batching), and each bucket reports how many fixed-budget
-- batches it yields plus its padding efficiency (real tokens /
-- padded tokens). A single unbucketed batcher pads everything to the
-- global max; the per-bucket efficiency column quantifies what
-- bucketing buys.
WITH toks AS (
  SELECT doc_id,
         LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS n_tokens
  FROM documents
), bucketed AS (
  SELECT doc_id, n_tokens,
         CAST(POWER(2, CEIL(LOG2(GREATEST(n_tokens, 1)))) AS BIGINT)
           AS bucket
  FROM toks
)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS real_tokens,
       CAST(COUNT(*) * bucket AS BIGINT) AS padded_tokens,
       ROUND(SUM(n_tokens) * 1.0 / (COUNT(*) * bucket), 4)
         AS pad_efficiency,
       CAST(CEIL(COUNT(*) * bucket / 16384.0) AS BIGINT) AS n_batches
FROM bucketed
GROUP BY bucket
ORDER BY bucket
"""


@register("pipeline_length_bucket_batching", oracle=LENGTH_BUCKET_ORACLE)
def pipeline_length_bucket_batching(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Padding-minimizing batch plan: next-pow2 length bucketing is
    one map-only expression, the manifest one ~log2(max_len)-group
    aggregate — nothing fact-sized ever shuffles. The output drives
    the actual batch writer: repartition by (bucket, row_number /
    docs_per_batch) puts each fixed-token-budget batch in one task.
    pad_efficiency >= 0.5 by construction (a doc is always > half
    its pow2 bucket), which is the bound that makes pow2 bucketing
    the default vs exact-length grouping (whose group count is
    unbounded)."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = (
        F.length("text")
        - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        + 1
    )
    bucket = F.pow(
        F.lit(2), F.ceil(F.log2(F.greatest(n_tokens, F.lit(1))))
    ).cast("long")
    return (
        docs.select(n_tokens.alias("n_tokens"), bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("real_tokens"),
            (F.count("*") * F.col("bucket")).cast("long").alias(
                "padded_tokens"
            ),
            F.round(
                F.sum("n_tokens") * 1.0 / (F.count("*") * F.first("bucket")),
                4,
            ).alias("pad_efficiency"),
            F.ceil(F.count("*") * F.first("bucket") / 16384.0)
            .cast("long")
            .alias("n_batches"),
        )
        .orderBy("bucket")
    )


REPEATED_LINES_ORACLE = """
-- Corpus-level repeated-line removal (the cross-document C4/Gopher
-- boilerplate rule: a LINE occurring in >= 3 distinct documents is
-- navigation/footer-class noise and is dropped from every document;
-- per-document rules can't see it). 3-token pseudo-lines over the
-- line-free fixture docs; order-preserving reassembly via
-- ORDER BY line index inside the aggregate.
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts
  FROM documents
), ex AS (
  SELECT doc_id, i AS idx,
         array_to_string(list_slice(ts, i * 3 + 1, i * 3 + 3), ' ') AS line
  FROM t, UNNEST(range(0, CAST(ceil(len(ts) / 3.0) AS BIGINT))) u(i)
), cnt AS (
  SELECT line, COUNT(DISTINCT doc_id) AS ndocs FROM ex GROUP BY line
), kept AS (
  SELECT e.doc_id, e.idx, e.line
  FROM ex e JOIN cnt c USING (line) WHERE c.ndocs < 3
), re AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         string_agg(line, ' ' ORDER BY idx) AS cleaned
  FROM kept GROUP BY doc_id
), tot AS (
  SELECT doc_id, COUNT(*) AS n_lines FROM ex GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(t.n_lines AS BIGINT)           AS n_lines,
       CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(COALESCE(length(r.cleaned), 0) AS BIGINT) AS cleaned_len
FROM tot t LEFT JOIN re r USING (doc_id)
ORDER BY t.doc_id
"""


@register("dedup_repeated_lines_corpus", oracle=REPEATED_LINES_ORACLE)
def dedup_repeated_lines_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-line removal: drop every line that
    occurs in >= 3 distinct documents (corpus-level boilerplate —
    headers, footers, nav text — invisible to per-document rules).

    Scale shape: posexplode lines once (persisted — the interpreted
    line-building HOF runs once for both consumers), ONE line-keyed
    Exchange with map-side-combined distinct-doc counts to build the
    boilerplate set (lines in >= 3 docs), which BROADCASTS back onto
    the persisted explode (round-11 rewrite: the previous form
    shuffle-joined the full corpus-sized explode against the count
    table line-by-line — a second corpus Exchange that the broadcast
    removes; at sf0.1 the drop set is 17k lines / ~260 KB), then one
    doc_id Exchange reassembles survivors in order via array_sort
    over (idx, line) structs. At 100 TB true boilerplate (nav/footer
    text) is small by definition; if the >= 3-doc line set ever
    outgrew the broadcast threshold the fallback is the old
    line-keyed shuffle join — that cutover is the documented scale
    path.

    Floor work (interleaved min-of-4): the interpreted
    line-building HOF is per-row CPU — exactly the r11 audit's KEEP
    family — but this query never
    opted into the scan fan-out, so the HOF serialized on the
    fixture's 1-2 scan tasks. parallel=True: 2.11 -> 1.22s at
    sf0.1, 8.80 -> 2.04s at sf1 (4.3x). A drop-by-VALUE rewrite
    (only boiler hits shuffle to a per-doc drop-set agg, map-side
    F.filter reassembly) measured SLOWER in both regimes (1.29 vs
    1.22 fanned, 2.23 vs 2.04 at sf1) and was REJECTED — the
    doc-side Exchange was never the cost, the serialized HOF was."""
    docs = load_table(spark, sf_dir, "documents", parallel=True)
    ts = F.split(F.trim(F.col("text")), r"\s+")
    n_lines = F.ceil(F.size(ts) / F.lit(3.0)).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), n_lines - 1),
        lambda i: F.array_join(F.slice(ts, i * 3 + 1, 3), " "),
    )
    # two consumers (count + survivor join): persist so the
    # interpreted line-building HOF runs once (same discipline as
    # dedup_duplicated_spans' gram table)
    ex = cached(docs.select(
        "doc_id", F.posexplode(lines).alias("idx", "line")
    ))
    boiler = (
        ex.groupBy("line")
        .agg(F.count_distinct("doc_id").alias("ndocs"))
        .filter(F.col("ndocs") >= 3)
        .select("line", F.lit(1).alias("boiler"))
    )
    # single doc-keyed aggregation carries BOTH the total line count
    # and the survivor reassembly (round-10 floor-decomposition
    # catch: the previous tot-table + final left-join re-scanned and
    # re-split the corpus text a second time and paid an extra
    # doc_id join — n_lines is just COUNT(*) over the already-
    # exploded rows, and collect_list SKIPS nulls, so the
    # conditional struct collects survivors only)
    keep = F.col("boiler").isNull()
    surv = F.when(keep, F.struct("idx", "line"))
    re = (
        ex.join(F.broadcast(boiler), "line", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(keep.cast("long")).cast("long").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(surv)),
                    lambda s: s["line"],
                ),
                " ",
            ).alias("cleaned"),
        )
    )
    return re.select(
        "doc_id",
        "n_lines",
        "n_kept",
        F.coalesce(F.length("cleaned"), F.lit(0))
        .cast("long")
        .alias("cleaned_len"),
    )


def _bpe_ctes(k: int) -> tuple[str, list[str], str]:
    """Shared unrolled-CTE body for the BPE train/apply oracles: each
    round counts adjacent symbol pairs over the word-frequency table,
    picks the top pair (count DESC, pair ASC), and merges it into
    every sequence by 3-pass literal space-guarded replace — the same
    string algebra the Spark side runs, so counts match exactly.

    Equivalence contract (tests/test_property_round5.py): the replace
    algebra equals textbook left-to-right greedy merging for words
    with no same-symbol run of length >= 3 (hypothesis-verified);
    on longer runs it arranges the same NUMBER of merges at different
    positions ('eeeee' -> [ee, e, ee] vs greedy [ee, ee, e]). The
    fixture vocabulary satisfies the precondition (asserted by test),
    and cross-engine parity is unconditional regardless — both
    engines execute the identical algebra.
    Returns (WITH-body, per-round final selects, last seq CTE name)."""
    rounds = []
    prev = "s0"
    finals = []
    for r in range(1, k + 1):
        rounds.append(f"""p{r} AS (
  SELECT sym[i] AS a, sym[i+1] AS b, SUM(freq) AS cnt
  FROM (SELECT list_filter(regexp_split_to_array(seq, ' '),
               x -> x <> '') AS sym, freq FROM {prev}) q,
       UNNEST(range(1, len(sym))) u(i)
  GROUP BY a, b
), t{r} AS (
  SELECT a, b, cnt FROM p{r} ORDER BY cnt DESC, a, b LIMIT 1
), s{r} AS (
  SELECT word, replace(replace(replace(seq,
           ' ' || a || ' ' || b || ' ', ' ' || a || b || ' '),
           ' ' || a || ' ' || b || ' ', ' ' || a || b || ' '),
           ' ' || a || ' ' || b || ' ', ' ' || a || b || ' ') AS seq,
         freq
  FROM {prev}, t{r}
)""")
        finals.append(
            f"SELECT {r} AS round, a AS merge_left, b AS merge_right,"
            f" a || b AS merged, CAST(cnt AS BIGINT) AS cnt FROM t{r}"
        )
        prev = f"s{r}"
    body = (
        """WITH wc AS (
  -- min-frequency floor (mirrors BPE_MIN_FREQ on the Spark side):
  -- production BPE trainers prune hapax words (typos, URLs, code
  -- identifiers — the unbounded tail of a web corpus) BEFORE
  -- training so the in-process word table stays RAM-bounded; the
  -- merge statistics are computed over the same pruned table in
  -- both engines.
  SELECT w AS word, COUNT(*) AS freq
  FROM documents, UNNEST(regexp_split_to_array(trim(text), '\\s+')) t(w)
  GROUP BY w
  HAVING COUNT(*) >= 2
), s0 AS (
  SELECT word, ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS seq,
         freq
  FROM wc
), """
        + ",\n".join(rounds)
    )
    return body, finals, prev


def _bpe_oracle(k: int) -> str:
    body, finals, _ = _bpe_ctes(k)
    return (
        """
-- REAL byte-pair-encoding merge training (Sennrich et al. 2016) over
-- the corpus word-frequency table: k rounds of count-adjacent-pairs /
-- take-top / merge-into-sequences. Training runs on the |V|-sized
-- word table (the corpus contributes ONE counting pass), exactly like
-- production BPE trainers. See _bpe_ctes for the merge algebra proof
-- obligations (tests/test_bpe_train.py).
"""
        + body
        + "\n"
        + "\nUNION ALL\n".join(finals)
        + "\nORDER BY round"
    )


def _bpe_apply_oracle(k: int) -> str:
    body, _, last = _bpe_ctes(k)
    return (
        """
-- Tokenize the corpus with the trained BPE merges (the apply half of
-- the tokenizer loop): re-derive the k merges, then count each
-- word's final symbols and roll up per document. Token counts are a
-- pure function of the trained vocabulary, so every row is exact.
"""
        + body
        + f""", vocab AS (
  SELECT word,
         len(list_filter(regexp_split_to_array(seq, ' '),
             x -> x <> '')) AS n_tok
  FROM {last}
), dw AS (
  SELECT doc_id, w
  FROM documents, UNNEST(regexp_split_to_array(trim(text), '\\s+')) t(w)
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT)        AS n_words,
       CAST(SUM(length(w)) AS BIGINT)  AS n_chars,
       -- OOV fallback: words pruned by the min-frequency floor
       -- tokenize as bare characters (the byte/char-fallback every
       -- production tokenizer ships)
       CAST(SUM(COALESCE(v.n_tok, length(dw.w))) AS BIGINT)
         AS n_bpe_tokens
FROM dw LEFT JOIN vocab v ON v.word = dw.w
GROUP BY doc_id ORDER BY doc_id"""
    )


BPE_TRAIN_ROUNDS = 8
# Min corpus frequency for a word to enter BPE training (mirrored in
# the oracle's wc CTE as HAVING COUNT(*) >= 2). Hapax pruning is what
# keeps the trainer's in-process word table RAM-bounded on a web
# corpus, where the distinct-word tail (typos/URLs/code) grows
# near-linearly with data while the >=2 vocabulary follows Heaps' law.
BPE_MIN_FREQ = 2
# Hard cap on the collected vocabulary (enforced via limit(cap+1)
# before collect, so driver memory is bounded even on adversarial
# corpora); ~10^7 short strings ≈ a few hundred MB — production
# trainer territory (HF tokenizers / SentencePiece hold the same
# table in one process).
BPE_MAX_VOCAB = 10_000_000


def _bpe_train_plan(spark: SparkSession, sf_dir: str):
    """Build the k-round BPE training plan. Returns (merges DataFrame,
    final word->sequence DataFrame). The corpus contributes ONE
    map-side-combined word-count Exchange; the |V|-row count table is
    then COLLECTED and the k merge rounds run driver-side in Python —
    exactly how production BPE trainers work (HuggingFace tokenizers,
    SentencePiece: train on the aggregated word-frequency statistics
    held in one process; web-corpus |V| is ~10^7 rows of short
    strings, driver-RAM-sized at any corpus scale because vocabulary
    grows sub-linearly — Heaps' law — while the corpus grows without
    bound). The merge algebra is the oracle's bit-for-bit: adjacent
    pair counts over space-separated symbol sequences, winner by
    (count DESC, a ASC, b ASC), 3-pass space-guarded replace-all.
    Round 6 replaced the previous all-Spark iteration (8 rounds x
    {pair-explode job + checkpointed 1-row winner + checkpointed
    vocab merge} = ~17 sequential tiny jobs, 3.0s of scheduling floor
    at sf0.1) with this single-job shape."""
    docs = load_table(spark, sf_dir, "documents")
    wc = (
        docs.select(
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") >= BPE_MIN_FREQ)  # oracle: HAVING >= 2
    )
    # NOTE eager-execution contract: unlike the other registry plans,
    # this function runs the distributed word-count job NOW (the k
    # merge rounds are driver-side Python over the pruned |V| table).
    # limit(cap+1) bounds the collect itself — the guard fires on the
    # (cap+1)th row instead of after an unbounded materialization.
    rows = wc.limit(BPE_MAX_VOCAB + 1).collect()
    if len(rows) > BPE_MAX_VOCAB:
        raise RuntimeError(
            f"BPE vocabulary exceeds BPE_MAX_VOCAB={BPE_MAX_VOCAB} even "
            f"after the min-frequency floor (BPE_MIN_FREQ="
            f"{BPE_MIN_FREQ}); raise the floor or the cap before "
            "training — collecting an unbounded vocab would OOM the "
            "driver."
        )
    vocab = [(r["word"], r["freq"]) for r in rows]
    seqs = {w: " " + "".join(ch + " " for ch in w) for w, _ in vocab}
    freqs = dict(vocab)
    merges = []
    for r in range(1, BPE_TRAIN_ROUNDS + 1):
        cnt: dict[tuple[str, str], int] = {}
        for w, s in seqs.items():
            sym = [x for x in s.split(" ") if x != ""]
            f = freqs[w]
            for i in range(len(sym) - 1):
                k = (sym[i], sym[i + 1])
                cnt[k] = cnt.get(k, 0) + f
        if not cnt:
            break
        (a, b), c = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((r, a, b, a + b, c))
        search, repl = f" {a} {b} ", f" {a}{b} "
        for w in seqs:
            s = seqs[w]
            for _ in range(3):  # same 3-pass guarded replace as the oracle
                s = s.replace(search, repl)
            seqs[w] = s
    merges_df = spark.createDataFrame(
        merges,
        "round int, merge_left string, merge_right string, "
        "merged string, cnt long",
    )
    seqs_df = spark.createDataFrame(
        [(w, seqs[w], freqs[w]) for w in seqs],
        "word string, seq string, freq long",
    )
    return merges_df, seqs_df


@register("text_bpe_train_merges", oracle=_bpe_oracle(BPE_TRAIN_ROUNDS))
def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train k BPE merges on the corpus (the real tokenizer-training
    loop, not an estimate): see _bpe_train_plan for the scale shape —
    at 100 TB the corpus pass is the only heavy stage (map-side
    combined count); rounds iterate on the word table, which for web
    corpora is ~10^7 rows — broadcastable statistics, exactly how
    production BPE trainers scale."""
    merges, _ = _bpe_train_plan(spark, sf_dir)
    return merges


@register("text_bpe_apply_tokenize", oracle=_bpe_apply_oracle(BPE_TRAIN_ROUNDS))
def text_bpe_apply_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the trained BPE merges back to the corpus (the tokenize
    half of the loop): the trained word->sequence table reduces to a
    |V|-row word->token-count vocabulary, which BROADCASTS onto the
    corpus word explosion — per-document BPE token counts with one
    doc_id-keyed aggregate, no corpus-sized join. This is exactly how
    production pipelines tokenize at scale: train once on statistics,
    ship the vocabulary to every executor."""
    _, seqs = _bpe_train_plan(spark, sf_dir)
    vocab = seqs.select(
        "word",
        F.size(
            F.filter(F.split(F.col("seq"), " "), lambda x: x != "")
        ).alias("n_tok"),
    )
    docs = load_table(spark, sf_dir, "documents")
    dw = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word"),
    )
    return (
        dw.join(F.broadcast(vocab), "word", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum(F.length("word")).cast("long").alias("n_chars"),
            # OOV (min-freq-pruned) words fall back to characters —
            # mirrors the oracle's COALESCE(v.n_tok, length(w))
            F.sum(F.coalesce(F.col("n_tok"), F.length("word")))
            .cast("long")
            .alias("n_bpe_tokens"),
        )
    )


FFD_PACK_ORACLE = """
-- First-fit-decreasing bin packing of documents into fixed 2048-token
-- training batches, per shard (the packing that minimizes padding
-- waste; concat-and-chunk is pipeline_pack_sequences). FFD is
-- inherently sequential so it runs per-shard inside applyInPandas;
-- SQL pins the exact per-shard populations/token totals and the
-- packing-theory bounds as in-plan booleans: every bin <= capacity,
-- bins >= ceil(total/capacity) (volume lower bound), and
-- bins <= ceil(11/9 * ceil(total/capacity)) + 1 (the FFD guarantee).
WITH toks AS (
  SELECT doc_id % 8 AS shard,
         LEAST(len(regexp_split_to_array(trim(text), '\\s+')), 2048)
           AS n_tokens
  FROM documents
)
SELECT CAST(shard AS INT)                       AS shard,
       CAST(COUNT(*) AS BIGINT)                 AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT)            AS total_tokens,
       CAST(CEIL(SUM(n_tokens) / 2048.0) AS BIGINT) AS lower_bound_bins,
       TRUE                                     AS bins_within_bounds,
       TRUE                                     AS all_bins_fit
FROM toks GROUP BY shard ORDER BY shard
"""


@register("pipeline_pack_binpack_ffd", oracle=FFD_PACK_ORACLE)
def pipeline_pack_binpack_ffd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-fit-decreasing bin packing per shard: one hash-shard
    Exchange, then FFD runs independently inside each group via
    applyInPandas (the sequential heuristic parallelizes across
    shards, the production layout). The plan emits the achieved bin
    count's theoretical bounds as booleans the oracle pins TRUE:
    volume lower bound <= bins <= FFD's 11/9*OPT + 1 guarantee, and
    no bin over capacity."""
    import math

    import numpy as np

    cap = 2048
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        (F.col("doc_id") % 8).cast("int").alias("shard"),
        F.least(
            F.size(F.split(F.trim(F.col("text")), r"\s+")), F.lit(cap)
        ).alias("n_tokens"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        sizes = sorted(pdf["n_tokens"], reverse=True)
        bins: list[int] = []
        for s in sizes:
            for i, b in enumerate(bins):
                if b + s <= cap:
                    bins[i] = b + s
                    break
            else:
                bins.append(s)
        total = int(np.sum(sizes))
        lower = math.ceil(total / cap)
        upper = math.ceil(11 / 9 * lower) + 1
        return pd.DataFrame(
            {
                "shard": [int(pdf["shard"].iloc[0])],
                "n_docs": [len(sizes)],
                "total_tokens": [total],
                "lower_bound_bins": [lower],
                "bins_within_bounds": [lower <= len(bins) <= upper],
                "all_bins_fit": [all(b <= cap for b in bins)],
            }
        )

    return toks.groupBy("shard").applyInPandas(
        pack,
        schema=(
            "shard int, n_docs long, total_tokens long, "
            "lower_bound_bins long, bins_within_bounds boolean, "
            "all_bins_fit boolean"
        ),
    )


def _bpe_fertility_oracle(k: int) -> str:
    body, _, last = _bpe_ctes(k)
    return (
        """
-- Tokenizer fertility per language (tokens per word, the multilingual
-- vocab-sizing report every production tokenizer card carries: a lang
-- with fertility >> 1 is under-served by the merge vocabulary and
-- needs more merges or its own): re-derive the k trained merges, count
-- per-word BPE tokens, roll up per LANGUAGE. Fertility is a division
-- of exact integer sums — zero float-summation surface.
"""
        + body
        + f""", vocab AS (
  SELECT word,
         len(list_filter(regexp_split_to_array(seq, ' '),
             x -> x <> '')) AS n_tok
  FROM {last}
), dw AS (
  SELECT d.lang, w
  FROM documents d, UNNEST(regexp_split_to_array(trim(d.text), '\\s+')) t(w)
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT)        AS n_words,
       CAST(SUM(COALESCE(v.n_tok, length(dw.w))) AS BIGINT)
         AS n_bpe_tokens,
       ROUND(SUM(COALESCE(v.n_tok, length(dw.w))) * 1.0 / COUNT(*), 6)
         AS fertility
FROM dw LEFT JOIN vocab v ON v.word = dw.w
GROUP BY lang ORDER BY lang"""
    )


@register(
    "pipeline_tokenizer_fertility",
    oracle=_bpe_fertility_oracle(BPE_TRAIN_ROUNDS),
)
def pipeline_tokenizer_fertility(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-language tokenizer fertility (BPE tokens per word) for the
    corpus-trained merge vocabulary — the metric a multilingual
    pipeline uses to decide which languages need more merges or a
    dedicated vocabulary (fertility >> 1 = over-fragmented).

    Scale shape: identical to text_bpe_apply_tokenize — train once on
    pruned word statistics (driver-side over the RAM-bounded vocab,
    see _bpe_train_plan), BROADCAST the |V|-row word→token-count
    table onto one corpus word explosion, aggregate to |languages|
    rows. Fertility is a ratio of exact integer sums. OOV words
    (min-freq-pruned) count as characters in both engines."""
    _, seqs = _bpe_train_plan(spark, sf_dir)
    vocab = seqs.select(
        "word",
        F.size(
            F.filter(F.split(F.col("seq"), " "), lambda x: x != "")
        ).alias("n_tok"),
    )
    docs = load_table(spark, sf_dir, "documents")
    dw = docs.select(
        "lang",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word"),
    )
    tok = F.coalesce(F.col("n_tok"), F.length("word"))
    return (
        dw.join(F.broadcast(vocab), "word", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum(tok).cast("long").alias("n_bpe_tokens"),
            F.round(
                F.sum(tok) * 1.0 / F.count(F.lit(1)), 6
            ).alias("fertility"),
        )
        .orderBy("lang")
    )
