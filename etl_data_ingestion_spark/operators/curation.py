"""Corpus-curation operators a production training-data pipeline runs
between ingestion and tokenization (BASELINE.json north star,
complementing dedup.py / textops.py): benchmark decontamination,
language-stratified downsampling, PII scrubbing.

Each is a pure DataFrame transform with a DuckDB oracle; engine-
specific randomness (Bernoulli sampling) uses the bound-contract
pattern (exact totals + in-plan bound booleans, oracle pins the same
bound).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from etl_data_ingestion_spark.catalog import cached, checkpointed, load_table
from etl_data_ingestion_spark.functions.numeric import fixed, snap
from etl_data_ingestion_spark.functions.text import tokens, word_ngrams_from
from etl_data_ingestion_spark.plans.registry import register

DECONTAMINATE_ORACLE = """
-- Exact 5-gram collision decontamination: any training doc sharing a
-- distinct word 5-gram with the benchmark set (every 50th doc) is
-- flagged with its overlap count. At this corpus that surfaces
-- exactly the docs that are genuine near-dups of benchmark docs —
-- the contamination a real eval-leak scan must catch.
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
), grams AS (
  SELECT DISTINCT doc_id, array_to_string(list_slice(t, i, i + 4), ' ') AS g
  FROM toks, UNNEST(range(1, len(t) - 3)) u(i)
  WHERE len(t) >= 5
), bench AS (
  SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0
)
SELECT doc_id, COUNT(*) AS shared_grams
FROM grams
WHERE doc_id % 50 <> 0 AND g IN (SELECT g FROM bench)
GROUP BY doc_id
ORDER BY doc_id
"""


@register("pipeline_decontaminate_benchmark", oracle=DECONTAMINATE_ORACLE)
def pipeline_decontaminate_benchmark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination by exact n-gram collision (the
    GPT-3/PaLM-style eval-leak scan, at 5-gram granularity for these
    short fixture docs): explode distinct 5-grams, broadcast-semi-join
    the benchmark gram set, count overlaps per training doc.

    Scale shape: the benchmark side is eval-suite-sized (small) — its
    distinct grams BROADCAST, so the corpus-side scan never shuffles;
    cost is one pass + map-side semi join. Flagged docs are dropped
    (or reviewed) before training."""
    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select("doc_id", tokens("text").alias("toks")).select(
        "doc_id", F.explode(word_ngrams_from("toks", 5)).alias("g")
    )
    bench = (
        grams.filter(F.col("doc_id") % 50 == 0).select("g").distinct()
    )
    return (
        grams.filter(F.col("doc_id") % 50 != 0)
        .join(F.broadcast(bench), "g", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("shared_grams"))
    )


STRATIFIED_ORACLE = """
-- Language-stratified downsampling contract: per-language exact
-- totals, the configured keep fraction, and a 5-sigma binomial bound
-- on the seeded Bernoulli sample size (engine-specific draw,
-- engine-independent bound — each engine asserts its own sampler).
SELECT lang,
       COUNT(*) AS total_docs,
       -- CAST: the bare literal CASE is DECIMAL(3,2) in DuckDB — force
       -- DOUBLE to match Spark's double for the driver value hash.
       CAST(CASE WHEN lang = 'en' THEN 0.25 ELSE 1.0 END AS DOUBLE)
         AS keep_fraction,
       TRUE AS sample_within_bounds
FROM documents
GROUP BY lang
ORDER BY lang
"""


@register("pipeline_stratified_sample", oracle=STRATIFIED_ORACLE)
def pipeline_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-stratified downsampling (rebalance an en-dominated
    corpus): sampleBy with per-stratum fractions — en keeps 25%,
    every other language keeps 100%. This is the standard mixture
    rebalancing step before tokenization.

    sampleBy is a map-side Bernoulli filter — no shuffle, no
    collect; the only aggregate is the verification summary. The
    sampled count is seed/partitioning-specific, so the contract is
    a 5-sigma binomial bound per stratum (see STRATIFIED_ORACLE)."""
    docs = load_table(spark, sf_dir, "documents")
    fractions = {"en": 0.25, "de": 1.0, "es": 1.0, "fr": 1.0, "zh": 1.0}
    sampled = docs.sampleBy("lang", fractions, seed=42)
    totals = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("total_docs"))
    counts = sampled.groupBy("lang").agg(F.count(F.lit(1)).alias("n_sampled"))
    frac = F.when(F.col("lang") == "en", F.lit(0.25)).otherwise(F.lit(1.0))
    mean = frac * F.col("total_docs")
    sd = F.sqrt(frac * (1 - frac) * F.col("total_docs"))
    return (
        totals.join(counts, "lang", "left")
        .select(
            "lang",
            "total_docs",
            frac.alias("keep_fraction"),
            (
                F.abs(F.coalesce(F.col("n_sampled"), F.lit(0)) - mean)
                <= 5 * sd
            ).alias("sample_within_bounds"),
        )
    )


PII_SCRUB_ORACLE = """
-- PII scrub over deterministically planted contacts: every 3rd doc
-- gets an email + phone appended; the scrubber must find exactly
-- those (the base corpus is letters/spaces only — no digits, no '@')
-- and replace them with fixed tokens. The oracle runs the same
-- regexes in DuckDB (RE2) as Spark runs in Java regex — the patterns
-- are written in the dialect-common subset.
WITH dirty AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0
              THEN text || ' contact user' || doc_id ||
                   '@example.com call 555-' ||
                   lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              ELSE text END AS t
  FROM documents
), scrubbed AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                          '[EMAIL]', 'g'),
           '555-[0-9]{4}', '[PHONE]', 'g') AS clean,
         len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_emails,
         len(regexp_extract_all(t, '555-[0-9]{4}')) AS n_phones
  FROM dirty
)
SELECT doc_id,
       CAST(n_emails AS BIGINT) AS n_emails,
       CAST(n_phones AS BIGINT) AS n_phones,
       length(clean) AS scrubbed_len,
       NOT (clean LIKE '%@%' OR regexp_matches(clean, '555-[0-9]{4}'))
         AS clean_of_pii
FROM scrubbed
ORDER BY doc_id
"""

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"555-[0-9]{4}"


@register("text_pii_scrub", oracle=PII_SCRUB_ORACLE)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing stage (emails + phone numbers → fixed redaction
    tokens), all JVM regexp — codegen'd, zero Python in the row path.
    Contacts are PLANTED deterministically (every 3rd doc) so the
    oracle can verify detection counts, the scrubbed text length, and
    a clean-of-PII postcondition exactly; patterns stay in the
    RE2∩Java-regex common subset so both engines run the same
    semantics."""
    docs = load_table(spark, sf_dir, "documents")
    planted = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com call 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    dirty = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, planted).otherwise(F.col("text")).alias("t"),
    )
    clean = F.regexp_replace(
        F.regexp_replace(F.col("t"), EMAIL_RE, "[EMAIL]"), PHONE_RE, "[PHONE]"
    )
    return dirty.select(
        "doc_id",
        F.regexp_count("t", F.lit(EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count("t", F.lit(PHONE_RE)).cast("long").alias("n_phones"),
        F.length(clean).alias("scrubbed_len"),
        (
            ~(clean.contains("@") | (F.regexp_count(clean, F.lit(PHONE_RE)) > 0))
        ).alias("clean_of_pii"),
    )


DOMAIN_MIXTURE_ORACLE = """
-- Training-mixture weights per source domain: natural token share,
-- temperature-scaled sampling weight (alpha=0.5 — the sqrt-scaling
-- used to up-weight small domains in multilingual/multi-source
-- pretraining), and the implied upsampling factor. All mixture math
-- happens on the |domains|-row aggregate, never on the corpus.
WITH counts AS (
  -- CAST: duckdb SUM yields HUGEINT (float64 via pandas); spark sums
  -- to BIGINT — same values, hash-different dtype without the cast
  SELECT source,
         CAST(SUM(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT)
           AS n_tokens
  FROM documents GROUP BY source
)
SELECT source, n_tokens,
       ROUND(n_tokens / SUM(n_tokens) OVER (), 4) AS natural_frac,
       ROUND(SQRT(n_tokens * 1.0) / SUM(SQRT(n_tokens * 1.0)) OVER (), 4)
         AS mixture_weight,
       ROUND((SQRT(n_tokens * 1.0) / SUM(SQRT(n_tokens * 1.0)) OVER ())
             / (n_tokens / SUM(n_tokens) OVER ()), 4) AS upsample_factor
FROM counts
ORDER BY source
"""


@register("pipeline_domain_mixture_weights", oracle=DOMAIN_MIXTURE_ORACLE)
def pipeline_domain_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture weighting: per-source token counts → temperature-
    scaled sampling weights (alpha=0.5, i.e. p_i^0.5 / Σ p_j^0.5 —
    note p_i^0.5 normalized equals sqrt(n_i) normalized, so both
    engines compute it from raw counts without an intermediate
    division). The corpus-sized work is one map-side token count +
    one aggregate on |sources| keys; the normalization windows run on
    the domain-sized result (a handful of rows at any corpus scale).
    At 100 TB these weights feed the sampler that materializes the
    training mix — the aggregate is the cheap part, by design."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select("source", F.size(F.split(F.trim("text"), r"\s+")).alias("t"))
        .groupBy("source")
        .agg(F.sum("t").alias("n_tokens"))
    )
    w = Window.partitionBy()
    nat = F.col("n_tokens") / F.sum("n_tokens").over(w)
    scaled = F.sqrt(F.col("n_tokens") * 1.0)
    mix = scaled / F.sum(scaled).over(w)
    return counts.select(
        "source",
        "n_tokens",
        F.round(nat, 4).alias("natural_frac"),
        F.round(mix, 4).alias("mixture_weight"),
        F.round(mix / nat, 4).alias("upsample_factor"),
    )


DSIR_ORACLE = """
-- DSIR-style importance weights (Xie et al. 2023, "Data Selection
-- for Language Models via Importance Resampling" — public paper):
-- score each corpus doc by how target-like its unigram distribution
-- is, log p_target(doc) - log p_corpus(doc) under add-one-smoothed
-- unigram LMs. Target stand-in: the lang='en' slice. Docs that
-- look like the target get weight > 0 and are upsampled.
WITH words AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
  FROM documents
), tf AS (
  SELECT w, COUNT(*) AS tc FROM words WHERE lang = 'en' GROUP BY w
), cf AS (
  SELECT w, COUNT(*) AS cc FROM words GROUP BY w
), tot AS (
  SELECT (SELECT COUNT(*) FROM words WHERE lang = 'en') AS t_total,
         (SELECT COUNT(*) FROM words) AS c_total
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       -- + 0.0: IEEE negative-zero normalization — ROUND of a tiny
       -- negative sum yields -0.0 in DuckDB vs +0.0 in Spark (caught
       -- by the round-7 full-registry sf1 strict sweep)
       ROUND(SUM(LN((tc + 1.0) / t_total) - LN((cc + 1.0) / c_total)),
             4) + 0.0 AS importance_weight
FROM words
JOIN tf USING (w) JOIN cf USING (w) CROSS JOIN tot
GROUP BY doc_id
ORDER BY doc_id
"""


@register("pipeline_dsir_weights", oracle=DSIR_ORACLE)
def pipeline_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights: per-doc log-likelihood ratio between a
    target unigram LM (the lang='en' slice here; in production, the
    high-quality reference corpus) and the raw-corpus LM — the
    importance-resampling signal for pretraining data selection.

    Scale shape: the two LMs are VOCABULARY-sized aggregates (map-side
    combined word counts) that broadcast back onto the corpus scan —
    the corpus itself shuffles once on doc_id for the per-doc sum and
    never on the join key (word-frequency tables are the small side by
    construction). The fixture vocabulary is raw words; at open-web
    scale DSIR buckets words into 10k hashed n-gram features first so
    the LM stays fixed-size — same plan, hashed key (the hash must
    then live in ONE engine's UDF registered to both, since xxhash64
    isn't portable SQL — which is why the oracle-checked form here
    stays on raw words).
    """
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("w")
    )
    tf = (
        words.filter(F.col("lang") == "en")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("tc"))
    )
    cf = words.groupBy("w").agg(F.count(F.lit(1)).alias("cc"))
    totals = (
        words.groupBy()
        .agg(
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias(
                "t_total"
            ),
            F.count(F.lit(1)).alias("c_total"),
        )
    )
    scored = (
        words.join(F.broadcast(tf), "w")
        .join(F.broadcast(cf), "w")
        .crossJoin(F.broadcast(totals))
    )
    term = F.log((F.col("tc") + 1.0) / F.col("t_total")) - F.log(
        (F.col("cc") + 1.0) / F.col("c_total")
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        # + 0.0 normalizes IEEE negative zero (see oracle comment)
        (F.round(F.sum(term), 4) + 0.0).alias("importance_weight"),
    )


AES_COLUMN_ORACLE = """
-- Column-level encryption contract (aes_encrypt/aes_decrypt, GCM,
-- fixed IV for determinism in the CONTRACT ONLY — production uses
-- random IVs and loses determinism, see docstring): DuckDB has no
-- AES surface, so the oracle pins what it can derive — row count,
-- which rows carry planted PII (every 3rd doc — same planting as
-- text_pii_scrub), ciphertext expansion for GCM (len = plaintext +
-- 12B IV + 16B tag), and TRUE for the roundtrip/tamper booleans the
-- query proves in-plan.
SELECT doc_id,
       (doc_id % 3 = 0) AS had_pii,
       CAST(length(text) + CASE WHEN doc_id % 3 = 0 THEN 21 ELSE 0 END
            + 28 AS BIGINT) AS ciphertext_bytes,
       TRUE AS roundtrip_ok,
       TRUE AS tamper_detected
FROM documents
WHERE doc_id < 200
ORDER BY doc_id
"""


@register("scalar_aes_column_protection", oracle=AES_COLUMN_ORACLE)
def scalar_aes_column_protection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-rest column protection for PII-bearing text: aes_encrypt /
    aes_decrypt (AES-256-GCM) around the sensitive column, with an
    in-plan tamper check (flipping a ciphertext byte must make
    authenticated decryption fail -> try_aes_decrypt NULL). All JVM
    expressions — the row path never leaves codegen.

    Determinism note: the contract pins a FIXED IV so both engines'
    row hashes agree; real deployments use the default random IV
    (same plaintext -> different ciphertext) and pair encryption with
    an envelope KMS for the data key. What survives into production
    unchanged: the plan shape (map-only project), the GCM expansion
    accounting (+12 IV +16 tag), and the tamper postcondition.

    PII planting mirrors text_pii_scrub (every 3rd doc gets a contact
    line) so the oracle can state which rows carried PII."""
    key = F.lit("0123456789abcdef0123456789abcdef")  # 32B = AES-256
    iv = F.lit("000102030405060708090a0b")  # 12B hex-decoded below
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.col("text"), F.lit(" mail a.b@example.com")),
        )
        .otherwise(F.col("text"))
        .alias("pt"),
    )
    ct = F.aes_encrypt(
        F.col("pt").cast("binary"), key, F.lit("GCM"), F.lit("DEFAULT"),
        F.unhex(iv),
    )
    enc = planted.select("doc_id", "pt", ct.alias("ct"))
    rt = F.aes_decrypt(F.col("ct"), key, F.lit("GCM")).cast("string")
    # XOR the last byte with 0xFF: guarantees the ciphertext actually
    # differs (overwriting with a constant would be a no-op whenever
    # the authentic tag already ends in that constant), so GCM
    # authentication must reject it
    tampered = F.expr(
        "concat(substring(ct, 1, octet_length(ct) - 1), "
        "unhex(lpad(hex(cast(conv(hex(substring(ct, -1, 1)), 16, 10)"
        " as int) ^ 255), 2, '0')))"
    )
    bad = F.try_aes_decrypt(tampered, key, F.lit("GCM"))
    return enc.select(
        "doc_id",
        (F.col("doc_id") % 3 == 0).alias("had_pii"),
        F.octet_length("ct").cast("long").alias("ciphertext_bytes"),
        (rt == F.col("pt")).alias("roundtrip_ok"),
        bad.isNull().alias("tamper_detected"),
    )


DOMAIN_RESAMPLE_ORACLE = """
-- Deterministic domain rebalancing: downsample each source toward a
-- target mixture (target share of src_k proportional to k+1) with a
-- CONSISTENT arithmetic hash on doc_id (Knuth multiplicative mod
-- 2^32, then permille bucket) — reproducible across engines, runs,
-- and retries, unlike rand()-based sampling. The apply step of the
-- mixture-weights analysis (pipeline_domain_mixture_weights).
WITH d AS (
  SELECT doc_id, source,
         CAST(substr(source, 4) AS INT) AS k,
         (doc_id * 2654435761) % 4294967296 % 10000 AS bucket
  FROM documents
), kept AS (
  SELECT source, k, COUNT(*) AS n_docs,
         SUM(CASE WHEN bucket < (k + 1) * 10000 / 20 THEN 1 ELSE 0 END)
           AS n_kept
  FROM d GROUP BY source, k
)
SELECT source,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_kept AS BIGINT) AS n_kept,
       CAST((k + 1) * 10000 / 20 AS BIGINT) AS target_permille_x10,
       ROUND(n_kept * 1.0 / n_docs, 4) AS kept_frac
FROM kept
ORDER BY source
"""


@register("pipeline_domain_resample", oracle=DOMAIN_RESAMPLE_ORACLE)
def pipeline_domain_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a target domain mixture by deterministic per-source
    downsampling: keep a doc iff its consistent hash bucket falls
    under the source's target rate. Map-side Bernoulli with an
    ARITHMETIC hash (Knuth multiplicative) instead of rand(): the
    keep decision is a pure function of doc_id, so retries, AQE
    re-execution, and incremental re-runs keep exactly the same
    rows — the property rand()-sampling silently lacks. One
    partial-aggregated Exchange for the per-source accounting; the
    keep filter itself is map-only and composes with any downstream
    curation gate."""
    docs = load_table(spark, sf_dir, "documents")
    k = F.substring("source", 4, 10).cast("int")
    bucket = (F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296) % 10000
    d = docs.select(
        "doc_id",
        "source",
        k.alias("k"),
        bucket.alias("bucket"),
    )
    return (
        d.groupBy("source", "k")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                (
                    F.col("bucket")
                    < (F.col("k") + 1) * 10000 / 20
                ).cast("long")
            ).alias("n_kept"),
        )
        .select(
            "source",
            "n_docs",
            "n_kept",
            ((F.col("k") + 1) * 10000 / 20).cast("long").alias(
                "target_permille_x10"
            ),
            F.round(F.col("n_kept") / F.col("n_docs"), 4).alias("kept_frac"),
        )
        .orderBy("source")
    )


PSI_DRIFT_ORACLE = """
-- Population Stability Index between two time slices of the event
-- stream (the drift gate a production training-data pipeline runs
-- before accepting a new crawl/ingest window against the reference
-- distribution). Fixed 10 equal-width value buckets, Laplace 0.5
-- smoothing so empty buckets stay finite; psi = SUM (pa-pb)*ln(pa/pb).
-- PSI > 0.2 is the conventional "significant drift" flag.
WITH base AS (
  SELECT event_type,
         CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 'a' ELSE 'b' END AS half,
         LEAST(9, CAST(FLOOR(value / 50.0) AS INT)) AS bucket
  FROM events
), cnt AS (
  SELECT event_type, half, bucket, COUNT(*) AS c
  FROM base GROUP BY event_type, half, bucket
), grid AS (
  SELECT DISTINCT e.event_type, b.bucket
  FROM (SELECT DISTINCT event_type FROM base) e,
       UNNEST(range(0, 10)) b(bucket)
), tot AS (
  SELECT event_type, half, SUM(c) AS n FROM cnt GROUP BY event_type, half
), p AS (
  SELECT g.event_type, g.bucket,
         (COALESCE(ca.c, 0) + 0.5) / (ta.n + 5.0) AS pa,
         (COALESCE(cb.c, 0) + 0.5) / (tb.n + 5.0) AS pb
  FROM grid g
  LEFT JOIN cnt ca ON ca.event_type = g.event_type
       AND ca.bucket = g.bucket AND ca.half = 'a'
  LEFT JOIN cnt cb ON cb.event_type = g.event_type
       AND cb.bucket = g.bucket AND cb.half = 'b'
  JOIN tot ta ON ta.event_type = g.event_type AND ta.half = 'a'
  JOIN tot tb ON tb.event_type = g.event_type AND tb.half = 'b'
)
SELECT event_type,
       ROUND(SUM((pa - pb) * ln(pa / pb)), 6) AS psi,
       SUM((pa - pb) * ln(pa / pb)) > 0.2     AS drift_flag
FROM p GROUP BY event_type ORDER BY event_type
"""


@register("quality_psi_drift", oracle=PSI_DRIFT_ORACLE)
def quality_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift gate: PSI of the value distribution per
    event_type between the first half of the window and the rest.

    Scale shape: ONE corpus-sized aggregate to (type, half, bucket)
    counts — partial-aggregable, |types|*2*10 result — then all PSI
    math runs on that domain-sized table (dense 10-bucket grid via a
    tiny cross join, Laplace smoothing, ln-ratio fold). The fact
    table is scanned once and never joined or windowed."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        F.when(F.col("ts") < F.lit("2024-01-16").cast("timestamp"), "a")
        .otherwise("b")
        .alias("half"),
        F.least(F.lit(9), F.floor(F.col("value") / 50.0).cast("int")).alias(
            "bucket"
        ),
    )
    cnt = base.groupBy("event_type", "half", "bucket").agg(
        F.count(F.lit(1)).alias("c")
    )
    types = cnt.select("event_type").distinct()
    grid = types.crossJoin(
        ev.sparkSession.range(10).select(F.col("id").cast("int").alias("bucket"))
    )
    tot = cnt.groupBy("event_type", "half").agg(F.sum("c").alias("n"))
    ca = cnt.filter(F.col("half") == "a").select(
        "event_type", "bucket", F.col("c").alias("c_a")
    )
    cb = cnt.filter(F.col("half") == "b").select(
        "event_type", "bucket", F.col("c").alias("c_b")
    )
    ta = tot.filter(F.col("half") == "a").select(
        "event_type", F.col("n").alias("n_a")
    )
    tb = tot.filter(F.col("half") == "b").select(
        "event_type", F.col("n").alias("n_b")
    )
    p = (
        grid.join(ca, ["event_type", "bucket"], "left")
        .join(cb, ["event_type", "bucket"], "left")
        .join(ta, "event_type")
        .join(tb, "event_type")
        .select(
            "event_type",
            (
                (F.coalesce(F.col("c_a"), F.lit(0)) + 0.5)
                / (F.col("n_a") + 5.0)
            ).alias("pa"),
            (
                (F.coalesce(F.col("c_b"), F.lit(0)) + 0.5)
                / (F.col("n_b") + 5.0)
            ).alias("pb"),
        )
    )
    term = (F.col("pa") - F.col("pb")) * F.log(F.col("pa") / F.col("pb"))
    return (
        p.groupBy("event_type")
        .agg(
            F.round(F.sum(term), 6).alias("psi"),
            (F.sum(term) > 0.2).alias("drift_flag"),
        )
        .orderBy("event_type")
    )


URL_CANONICAL_ORACLE = """
-- Crawl-URL canonicalization dedup: the same page is crawled under
-- tracking-parameter / www / fragment / trailing-slash variants; a
-- URL-keyed dedup without canonicalization over-counts the corpus.
-- URLs are synthesized as a pure function of doc_id (utm param LAST
-- so a single strip step suffices), canonicalized by the same
-- string-algebra steps in both engines, and grouped.
WITH urls AS (
  SELECT doc_id,
         'https://' ||
         CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END ||
         'site' || (doc_id % 5) || '.example.com' ||
         CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END ||
         '/page/' || (doc_id % 10) ||
         CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END ||
         '?id=' || (doc_id % 3) ||
         CASE WHEN doc_id % 4 = 0
              THEN '&utm_source=feed' || doc_id ELSE '' END ||
         CASE WHEN doc_id % 6 = 0 THEN '#sec' || doc_id ELSE '' END
         AS url
  FROM documents
), canon AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(lower(url), '#.*$', ''),
                 '&utm_[a-z]+=[^&#]*', '', 'g'),
               '://www\\.', '://'),
             ':443/', '/'),
           '/\\?', '?') AS curl
  FROM urls
)
SELECT curl                              AS canonical_url,
       CAST(COUNT(*) AS BIGINT)          AS n_variants,
       CAST(MIN(doc_id) AS BIGINT)       AS keep_doc_id
FROM canon GROUP BY curl HAVING COUNT(*) > 1
ORDER BY canonical_url
"""


@register("dedup_url_canonical", oracle=URL_CANONICAL_ORACLE)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + dedup (crawl-frontier hygiene): lower-
    case, strip fragment, strip utm_* tracking params, strip www.,
    strip the https default port, normalize the trailing slash before
    the query string — then group variants. Keep-min doc per
    canonical URL.

    Scale shape: canonicalization is map-side JVM regexp (whole-stage
    codegen); the groupBy shuffles canonical-URL keys only. The same
    canon expression is the join key for incremental frontier dedup
    (dedup_incremental_new_docs shape)."""
    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    url = F.concat(
        F.lit("https://"),
        F.when(d % 3 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.lit("site"), (d % 5).cast("string"), F.lit(".example.com"),
        F.when(d % 5 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/page/"), (d % 10).cast("string"),
        F.when(d % 2 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?id="), (d % 3).cast("string"),
        F.when(
            d % 4 == 0, F.concat(F.lit("&utm_source=feed"), d.cast("string"))
        ).otherwise(F.lit("")),
        F.when(d % 6 == 0, F.concat(F.lit("#sec"), d.cast("string"))).otherwise(
            F.lit("")
        ),
    )
    curl = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace(F.lower(url), r"#.*$", ""),
                    r"&utm_[a-z]+=[^&#]*",
                    "",
                ),
                r"://www\.",
                "://",
            ),
            r":443/",
            "/",
        ),
        r"/\?",
        "?",
    )
    return (
        docs.select("doc_id", curl.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_variants"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .filter(F.col("n_variants") > 1)
    )


COMPRESSION_RATIO_ORACLE = """
-- Compressibility quality signal (Gopher/CCNet-class filter: near-
-- duplicate-heavy or templated text compresses far better than
-- natural text). zlib isn't SQL-expressible, so this is a bound
-- contract in the repo's standard form: exact populations/byte
-- totals pinned by SQL, plus an in-plan boolean the Spark side must
-- compute TRUE — repeated-content docs (text||text||text||text)
-- MUST compress materially better than the plain originals.
SELECT
  CAST(COUNT(*) AS BIGINT)                        AS n_docs,
  CAST(SUM(octet_length(ENCODE(text))) AS BIGINT) AS plain_bytes,
  CAST(SUM(octet_length(ENCODE(text))) * 4 AS BIGINT) AS repeated_bytes,
  TRUE                                            AS repeated_more_compressible,
  TRUE                                            AS ratios_in_range
FROM documents WHERE doc_id < 300
"""


@register("text_compression_ratio", oracle=COMPRESSION_RATIO_ORACLE)
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib compression-ratio signal over the corpus (real compression
    via Arrow-batched mapInPandas — the classic cheap proxy for
    boilerplate/repetition). Self-checking contract: alongside the
    exact byte totals the plan computes mean ratios for the plain
    corpus vs a planted 4x-repeated variant and asserts the planted
    population compresses materially better (>= 0.1 absolute), plus
    all ratios in (0, 1.5] (zlib header overhead dominates short
    docs). Payload bytes never shuffle; the corpus
    crosses the Python boundary once."""
    import zlib

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select("doc_id", "text")
    )

    def ratios(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            plain = [t.encode() for t in pdf["text"]]
            rep = [b * 4 for b in plain]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": [len(b) for b in plain],
                    "ratio_plain": [
                        len(zlib.compress(b, 6)) / len(b) for b in plain
                    ],
                    "ratio_repeated": [
                        len(zlib.compress(b, 6)) / len(b) for b in rep
                    ],
                }
            )

    r = docs.mapInPandas(
        ratios,
        schema=(
            "doc_id long, n_bytes long, ratio_plain double, "
            "ratio_repeated double"
        ),
    )
    return r.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_bytes").cast("long").alias("plain_bytes"),
        (F.sum("n_bytes") * 4).cast("long").alias("repeated_bytes"),
        # coalesce-to-True: on an empty corpus every aggregate is
        # NULL so the comparisons go NULL, while the oracle's
        # vacuous checks read TRUE (empty-corpus sweep, round 14)
        F.coalesce(
            F.avg("ratio_plain") - F.avg("ratio_repeated") >= 0.1,
            F.lit(True),
        ).alias("repeated_more_compressible"),
        F.coalesce(
            (F.min("ratio_plain") > 0)
            & (F.max("ratio_plain") <= 1.5)
            & (F.min("ratio_repeated") > 0)
            & (F.max("ratio_repeated") <= 1.5),
            F.lit(True),
        ).alias("ratios_in_range"),
    )


KS_TEST_ORACLE = """
-- Two-sample Kolmogorov-Smirnov drift test per event_type (the
-- exact-statistic companion to quality_psi_drift's bucketed PSI):
-- D = max |F1(v) - F2(v)| over the pooled observed values, with the
-- 95% rejection threshold 1.358*sqrt((n1+n2)/(n1*n2)). CDFs via
-- cumulative counts over the per-type distinct-value domain.
WITH base AS (
  SELECT event_type, value,
         CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS in_a
  FROM events
), perval AS (
  SELECT event_type, value,
         SUM(in_a) AS ca, SUM(1 - in_a) AS cb
  FROM base GROUP BY event_type, value
), tot AS (
  SELECT event_type, SUM(ca) AS na, SUM(cb) AS nb
  FROM perval GROUP BY event_type
), cum AS (
  SELECT p.event_type,
         SUM(ca) OVER (PARTITION BY p.event_type ORDER BY value) * 1.0
           / t.na AS fa,
         SUM(cb) OVER (PARTITION BY p.event_type ORDER BY value) * 1.0
           / t.nb AS fb,
         t.na, t.nb
  FROM perval p JOIN tot t USING (event_type)
)
SELECT event_type,
       CAST(MAX(na) AS BIGINT)                       AS n_early,
       CAST(MAX(nb) AS BIGINT)                       AS n_late,
       ROUND(MAX(ABS(fa - fb)), 6)                   AS ks_d,
       ROUND(1.358 * SQRT((MAX(na) + MAX(nb)) * 1.0
             / (MAX(na) * MAX(nb))), 6)              AS crit_95,
       MAX(ABS(fa - fb)) >
         1.358 * SQRT((MAX(na) + MAX(nb)) * 1.0
                      / (MAX(na) * MAX(nb)))         AS reject_95
FROM cum GROUP BY event_type ORDER BY event_type
"""


@register("quality_ks_drift_test", oracle=KS_TEST_ORACLE)
def quality_ks_drift_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS statistic per event_type between the early
    and late halves of the window. Scale shape: the fact table reduces
    to per-(type, value) counts in ONE partial-aggregated Exchange;
    the CDF window runs over the per-type distinct-value domain
    (partitioned by event_type — never an unpartitioned corpus sort),
    and the final max is domain-sized. The groupBy collapses tied
    values to one row per (type, value), so ROWS and RANGE cumulative
    framing coincide — both engines accumulate identically.

    Round-14 (kept, -24% sf0.1 / -12% sf1 interleaved, every fused
    sample beating every stock sample; values identical): the `tot`
    branch used to RE-SCAN events and re-run the perval aggregation
    just to compute per-type totals, then broadcast-join them back
    (two fact scans, two extra exchanges). na/nb are now
    whole-partition window sums over the SAME event_type exchange
    the CDF window already pays (guide §2.4: a window partitioned
    like a preceding aggregation needs no second shuffle) — one
    events scan total."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        "value",
        F.when(F.col("ts") < F.lit("2024-01-16").cast("timestamp"), 1)
        .otherwise(0)
        .alias("in_a"),
    )
    perval = base.groupBy("event_type", "value").agg(
        F.sum("in_a").alias("ca"), F.sum(1 - F.col("in_a")).alias("cb")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("event_type")
    cum = perval.select(
        "event_type",
        (F.sum("ca").over(w) * 1.0 / F.sum("ca").over(wall)).alias("fa"),
        (F.sum("cb").over(w) * 1.0 / F.sum("cb").over(wall)).alias("fb"),
        F.sum("ca").over(wall).alias("na"),
        F.sum("cb").over(wall).alias("nb"),
    )
    d = F.max(F.abs(F.col("fa") - F.col("fb")))
    crit = 1.358 * F.sqrt(
        (F.max("na") + F.max("nb")) * 1.0 / (F.max("na") * F.max("nb"))
    )
    return (
        cum.groupBy("event_type")
        .agg(
            F.max("na").cast("long").alias("n_early"),
            F.max("nb").cast("long").alias("n_late"),
            F.round(d, 6).alias("ks_d"),
            F.round(crit, 6).alias("crit_95"),
            (d > crit).alias("reject_95"),
        )
        .orderBy("event_type")
    )


NAIVE_BAYES_ORACLE = """
-- In-engine Naive Bayes training + evaluation (the quality/spam
-- classifier tier of a curation pipeline, trained AS a query). The
-- fixture's lang labels are random w.r.t. text (SURVEY: synthetic
-- English-ish for every label), so a lang target would only learn
-- the prior; instead the corpus is doubled with a PLANTED spam class
-- (promo-token tail appended) and the classifier must separate it —
-- fit multinomial NB with Laplace smoothing on even doc_ids, score
-- the odd held-out half, report per-class accuracy (the planted
-- signal makes near-perfect separation the correct answer, and the
-- oracle pins the exact confusion counts). Scores ROUND(...,6)
-- before the argmax, ties break on label.
WITH corpus AS (
  SELECT doc_id, 'natural' AS label, text FROM documents
  UNION ALL
  SELECT doc_id + 5000000, 'spam',
         text || ' win free click offer win free click offer'
  FROM documents
), train AS (
  SELECT label, w
  FROM corpus, UNNEST(regexp_split_to_array(trim(text), '\\s+')) t(w)
  WHERE doc_id % 2 = 0
), cnt AS (
  SELECT label, w, COUNT(*) AS c FROM train GROUP BY label, w
), vocab AS (
  SELECT DISTINCT w FROM train
), vsize AS (
  SELECT COUNT(*) AS v FROM vocab
), tot AS (
  SELECT label, COUNT(*) AS n FROM train GROUP BY label
), prior AS (
  SELECT label, COUNT(*) AS nd FROM corpus
  WHERE doc_id % 2 = 0 GROUP BY label
), ptab AS (
  SELECT t.label, v.w,
         LN((COALESCE(c.c, 0) + 1.0) / (t.n + (SELECT v FROM vsize)))
           AS lp
  FROM tot t
  CROSS JOIN vocab v
  LEFT JOIN cnt c ON c.label = t.label AND c.w = v.w
), test AS (
  SELECT doc_id, label AS true_label, w
  FROM corpus, UNNEST(regexp_split_to_array(trim(text), '\\s+')) t(w)
  WHERE doc_id % 2 = 1
), scored AS (
  SELECT te.doc_id, te.true_label, p.label,
         ROUND(SUM(p.lp)
               + LN((SELECT nd FROM prior pr WHERE pr.label = p.label)
                    * 1.0
                    / (SELECT SUM(nd) FROM prior)), 6) AS score
  FROM test te JOIN ptab p ON p.w = te.w
  GROUP BY te.doc_id, te.true_label, p.label
), pred AS (
  SELECT doc_id, true_label, label AS pred_label
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                     ORDER BY score DESC, label) AS rn
        FROM scored)
  WHERE rn = 1
)
SELECT true_label                                   AS label,
       CAST(COUNT(*) AS BIGINT)                     AS n_docs,
       CAST(SUM(CASE WHEN pred_label = true_label
                     THEN 1 ELSE 0 END) AS BIGINT)  AS n_correct,
       ROUND(SUM(CASE WHEN pred_label = true_label
                      THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4) AS accuracy
FROM pred GROUP BY true_label ORDER BY true_label
"""


@register("pipeline_naive_bayes_spam", oracle=NAIVE_BAYES_ORACLE)
def pipeline_naive_bayes_spam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train AND evaluate a multinomial Naive Bayes quality/spam
    classifier inside the engine (the learned tier above the rule
    gates in text_gopher_quality_rules): planted spam class (promo
    tokens appended) over the doubled corpus, token-likelihood table
    fit on the even half with Laplace smoothing over the joint
    vocabulary, held-out odd half scored by broadcast-joining the
    (2 x |V|)-row probability table onto the test-token explosion,
    per-doc argmax, per-class accuracy. Near-perfect separation is
    the correct answer (the signal is planted) and the oracle pins
    the exact confusion counts.

    This is the production shape for quality classifiers at 100 TB:
    the model IS a small table — counts come from one corpus pass,
    the probability table broadcasts, scoring is a map-side join +
    one doc-keyed aggregate. A fastText-class model swaps the table
    for vectors; the dataflow is unchanged."""
    docs = load_table(spark, sf_dir, "documents")
    # round-11 restructure (r10 verdict: "prove or shrink the
    # over-floor residue" — this shrinks it): the r10 form scanned
    # documents THREE times (two union branches + the prior rollup),
    # regex-split every text twice (once per union branch), persisted
    # the corpus-sized PER-TOKEN explosion, and ranked a 2-row-per-doc
    # window for the argmax. Now: ONE scan, ONE regex split per doc
    # (the planted spam suffix is appended as a literal TOKEN ARRAY,
    # not re-split from concatenated text), a DOC-level persist
    # (token arrays — each consumer filters its parity half before
    # exploding, so the cache is 2N array rows, not 2N*tokens rows),
    # the prior folded into the one scalar collect (spam ids shift by
    # an even constant, so both classes have exactly ntd/2 train
    # docs), and the argmax as a conditional-sum pivot in the SAME
    # doc-keyed aggregation (ties -> label-ascending 'natural',
    # mirroring the oracle's ROW_NUMBER(score DESC, label)).
    toks0 = F.split(F.trim(F.col("text")), r"\s+")
    suffix = F.split(
        F.lit("win free click offer win free click offer"), " "
    )
    # empty-text guard: trim('') splits to [''] but the oracle's
    # text || ' win...' trims to the suffix alone — match that
    spam_toks = F.when(
        F.length(F.trim(F.col("text"))) == 0, suffix
    ).otherwise(F.concat(toks0, suffix))
    var_docs = cached(docs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_id"),
                    F.lit("natural").alias("label"),
                    toks0.alias("toks"),
                ),
                F.struct(
                    (F.col("doc_id") + 5000000).alias("doc_id"),
                    F.lit("spam").alias("label"),
                    spam_toks.alias("toks"),
                ),
            )
        ).alias("r")
    ).select("r.doc_id", "r.label", "r.toks"))
    train = var_docs.filter(F.col("doc_id") % 2 == 0).select(
        "label", F.explode("toks").alias("w")
    )
    cnt = cached(train.groupBy("label", "w").agg(
        F.count(F.lit(1)).alias("c")
    ))
    vocab = cnt.select("w").distinct()
    tot = cnt.groupBy("label").agg(F.sum("c").cast("long").alias("n"))
    scalars = (
        cnt.agg(F.count_distinct("w").alias("v"))
        .crossJoin(
            var_docs.filter(F.col("doc_id") % 2 == 0).agg(
                F.count(F.lit(1)).alias("ntd")
            )
        )
        .collect()[0]
    )
    vsize, n_train_docs = scalars.v, scalars.ntd
    ptab = (
        tot.crossJoin(vocab)
        .join(cnt, ["label", "w"], "left")
        .select(
            "label",
            "w",
            F.log(
                (F.coalesce(F.col("c"), F.lit(0)) + 1.0)
                / (F.col("n") + F.lit(vsize))
            ).alias("lp"),
        )
    )
    # both classes hold exactly ntd/2 train docs (the +5000000 spam
    # id shift preserves parity), so the log-prior is one shared
    # constant — computed in-plan exactly as the oracle's
    # LN(nd/ntd), just with the counts as literals
    lpr = F.log(F.lit(n_train_docs // 2) * 1.0 / F.lit(n_train_docs))
    test = var_docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id",
        F.col("label").alias("true_label"),
        F.explode("toks").alias("w"),
    )
    # every vocab token carries BOTH labels' rows in ptab, so one
    # doc-keyed aggregation pivots the two class scores side-by-side
    # (no per-doc window sort); the strict > keeps ties on 'natural'
    per_doc = (
        test.join(F.broadcast(ptab), "w")
        .groupBy("doc_id", "true_label")
        .agg(
            F.round(
                F.sum(F.when(F.col("label") == "natural", F.col("lp")))
                + lpr,
                6,
            ).alias("s_nat"),
            F.round(
                F.sum(F.when(F.col("label") == "spam", F.col("lp")))
                + lpr,
                6,
            ).alias("s_spam"),
        )
    )
    pred = per_doc.select(
        "doc_id",
        "true_label",
        F.when(F.col("s_spam") > F.col("s_nat"), "spam")
        .otherwise("natural")
        .alias("pred_label"),
    )
    return (
        pred.groupBy(F.col("true_label").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(
                F.when(
                    F.col("pred_label") == F.col("true_label"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_correct"),
            F.round(
                F.sum(
                    F.when(
                        F.col("pred_label") == F.col("true_label"), 1
                    ).otherwise(0)
                )
                * 1.0
                / F.count(F.lit(1)),
                4,
            ).alias("accuracy"),
        )
        .orderBy("label")
    )


ENTITY_RESOLUTION_ORACLE = """
-- Entity resolution (record linkage): match DIRTY customer records
-- (synthesized perturbations — case flips, separator swaps, suffix
-- noise — truth known by construction) back to the master table via
-- blocking + edit-distance scoring. Similarity is computed in BASIS
-- POINTS with integer floor division ((maxlen-lev)*10000 // maxlen)
-- so no float rounding can flip a match across engines; argmax
-- tie-breaks on the smaller master key.
WITH master AS (
  SELECT c_custkey, c_name, c_nationkey FROM customer
  WHERE c_custkey < 1000
), dirty AS (
  SELECT c_custkey + 900000 AS dirty_id, c_custkey AS true_key,
         CASE WHEN c_custkey % 3 = 0 THEN upper(c_name)
              WHEN c_custkey % 3 = 1 THEN replace(c_name, '#', '-')
              ELSE c_name || ' jr' END AS dirty_name,
         c_nationkey
  FROM master
), pairs AS (
  SELECT d.dirty_id, d.true_key, d.dirty_name, m.c_custkey, m.c_name,
         levenshtein(lower(d.dirty_name), lower(m.c_name)) AS lev,
         GREATEST(length(d.dirty_name), length(m.c_name)) AS maxlen
  FROM dirty d JOIN master m ON m.c_nationkey = d.c_nationkey
), scored AS (
  SELECT dirty_id, true_key, c_custkey,
         (maxlen - lev) * 10000 // maxlen AS sim_bp
  FROM pairs
), best AS (
  SELECT dirty_id, true_key, c_custkey AS matched_key, sim_bp
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY dirty_id
                  ORDER BY sim_bp DESC, c_custkey) AS rn FROM scored)
  WHERE rn = 1
)
SELECT dirty_id,
       CAST(matched_key AS BIGINT)      AS matched_key,
       CAST(sim_bp AS BIGINT)           AS sim_bp,
       sim_bp >= 7000                   AS accepted,
       matched_key = true_key           AS correct
FROM best ORDER BY dirty_id
"""


@register("pipeline_entity_resolution", oracle=ENTITY_RESOLUTION_ORACLE)
def pipeline_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution: dirty records (known-truth perturbations)
    matched to the master by blocking + Levenshtein. Scale shape:
    blocking on the stable attribute (nation) bounds the pair
    quadratic to within-block products — the record-linkage analogue
    of the dedup tier's posting-list caps; scoring is JVM
    levenshtein; the argmax is a per-dirty-record window over block-
    sized candidates. Integer basis-point scores sidestep float
    rounding entirely (lesson: ROUND(double,4) half-boundaries break
    engine-portably — see join_geo_radius_grid)."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_custkey") < 1000
    )
    master = cust.select("c_custkey", "c_name", "c_nationkey")
    k = F.col("c_custkey")
    dirty = master.select(
        (k + 900000).alias("dirty_id"),
        k.alias("true_key"),
        F.when(k % 3 == 0, F.upper("c_name"))
        .when(k % 3 == 1, F.regexp_replace("c_name", "#", "-"))
        .otherwise(F.concat(F.col("c_name"), F.lit(" jr")))
        .alias("dirty_name"),
        "c_nationkey",
    )
    m = master.alias("m")
    d = dirty.alias("d")
    pairs = d.join(
        m, F.col("m.c_nationkey") == F.col("d.c_nationkey")
    ).select(
        "d.dirty_id",
        "d.true_key",
        F.col("m.c_custkey").alias("cand_key"),
        F.levenshtein(
            F.lower("d.dirty_name"), F.lower("m.c_name")
        ).alias("lev"),
        F.greatest(
            F.length("d.dirty_name"), F.length("m.c_name")
        ).alias("maxlen"),
    )
    scored = pairs.select(
        "dirty_id",
        "true_key",
        "cand_key",
        F.floor(
            (F.col("maxlen") - F.col("lev")) * 10000 / F.col("maxlen")
        ).alias("sim_bp"),
    )
    w = Window.partitionBy("dirty_id").orderBy(
        F.desc("sim_bp"), "cand_key"
    )
    best = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("dirty_id", "true_key", "cand_key", "sim_bp")
    )
    return best.select(
        "dirty_id",
        F.col("cand_key").cast("long").alias("matched_key"),
        F.col("sim_bp").cast("long").alias("sim_bp"),
        (F.col("sim_bp") >= 7000).alias("accepted"),
        (F.col("cand_key") == F.col("true_key")).alias("correct"),
    )


K_ANONYMITY_ORACLE = """
-- k-anonymity audit over quasi-identifiers (the governance gate
-- before a table is released for training): group by the QI tuple
-- (nation, account-balance band, market segment), flag equivalence
-- classes smaller than k=5 — rows in those classes are
-- re-identifiable by QI intersection. Per-nation accounting keeps
-- the output domain-sized and stable.
WITH qi AS (
  SELECT c_nationkey,
         CAST(FLOOR(c_acctbal / 2000) AS INT) AS bal_band,
         c_mktsegment,
         COUNT(*) AS class_size
  FROM customer
  GROUP BY c_nationkey, FLOOR(c_acctbal / 2000), c_mktsegment
)
SELECT c_nationkey,
       CAST(COUNT(*) AS BIGINT)                          AS n_classes,
       CAST(SUM(CASE WHEN class_size < 5 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating_classes,
       CAST(SUM(CASE WHEN class_size < 5 THEN class_size ELSE 0 END)
            AS BIGINT)                                   AS n_exposed_rows,
       CAST(MIN(class_size) AS BIGINT)                   AS min_class_size,
       MIN(class_size) >= 5                              AS k5_anonymous
FROM qi GROUP BY c_nationkey ORDER BY c_nationkey
"""


@register("quality_k_anonymity", oracle=K_ANONYMITY_ORACLE)
def quality_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit: ONE partial-aggregated pass to QI
    equivalence classes (|nations|x|bands|x|segments| result), then
    domain-sized violation accounting per nation — the release gate
    that pairs with text_pii_scrub (content-level) to cover the
    structured side of privacy review. At 100 TB the fact table is
    touched once; suppression/generalization decisions run on the
    class table."""
    cust = load_table(spark, sf_dir, "customer")
    qi = cust.groupBy(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 2000).cast("int").alias("bal_band"),
        "c_mktsegment",
    ).agg(F.count(F.lit(1)).alias("class_size"))
    viol = F.when(F.col("class_size") < 5, 1).otherwise(0)
    exposed = F.when(F.col("class_size") < 5, F.col("class_size")).otherwise(0)
    return (
        qi.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_classes"),
            F.sum(viol).cast("long").alias("n_violating_classes"),
            F.sum(exposed).cast("long").alias("n_exposed_rows"),
            F.min("class_size").cast("long").alias("min_class_size"),
            (F.min("class_size") >= 5).alias("k5_anonymous"),
        )
        .orderBy("c_nationkey")
    )


CURRICULUM_ORACLE = """
-- Curriculum bucketing: order training documents by a quality score
-- into 4 curriculum phases WITHOUT a corpus-wide sort — phase
-- boundaries are exact score quartiles (order statistics) broadcast
-- onto the scan; assignment is a map-side comparison. Score = the
-- Gopher-ish composite (stopword presence + length band), integer so
-- quartile edges are engine-identical. Per-phase accounting.
WITH scored AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
             w -> w IN ('the','a','of','and','to','in'))) * 10
         + LEAST(len(regexp_split_to_array(trim(text), '\\s+')) // 10, 9)
           AS score
  FROM documents
), edges AS (
  SELECT quantile_disc(score, 0.25) AS q1,
         quantile_disc(score, 0.50) AS q2,
         quantile_disc(score, 0.75) AS q3
  FROM scored
), assigned AS (
  SELECT s.doc_id, s.score,
         CASE WHEN s.score <= e.q1 THEN 1
              WHEN s.score <= e.q2 THEN 2
              WHEN s.score <= e.q3 THEN 3
              ELSE 4 END AS phase
  FROM scored s, edges e
)
SELECT phase,
       CAST(COUNT(*) AS BIGINT)      AS n_docs,
       CAST(MIN(score) AS BIGINT)    AS min_score,
       CAST(MAX(score) AS BIGINT)    AS max_score,
       CAST(MIN(doc_id) AS BIGINT)   AS first_doc
FROM assigned GROUP BY phase ORDER BY phase
"""


@register("pipeline_curriculum_buckets", oracle=CURRICULUM_ORACLE)
def pipeline_curriculum_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-learning phase assignment: quality-score the corpus
    (map-side array HOFs), compute exact quartile boundaries as a
    1-row aggregate, broadcast them back, assign phases with a
    map-side CASE — the NO-GLOBAL-SORT ranking pattern
    (window_percentile_bucket_scalable's discipline applied to the
    curation tier: NTILE over a 100 TB corpus is an unpartitioned
    window; quantile-edge broadcast is two scans and no shuffle of
    the corpus at all)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    stops = F.array(*[F.lit(w) for w in ("the", "a", "of", "and", "to", "in")])
    score = (
        F.size(F.filter(toks, lambda w: F.array_contains(stops, w))) * 10
        + F.least(F.floor(F.size(toks) / 10).cast("int"), F.lit(9))
    )
    scored = docs.select("doc_id", score.alias("score"))
    edges = scored.agg(
        F.expr(
            "percentile_disc(0.25) WITHIN GROUP (ORDER BY score)"
        ).alias("q1"),
        F.expr(
            "percentile_disc(0.50) WITHIN GROUP (ORDER BY score)"
        ).alias("q2"),
        F.expr(
            "percentile_disc(0.75) WITHIN GROUP (ORDER BY score)"
        ).alias("q3"),
    )
    phase = (
        F.when(F.col("score") <= F.col("q1"), 1)
        .when(F.col("score") <= F.col("q2"), 2)
        .when(F.col("score") <= F.col("q3"), 3)
        .otherwise(4)
    )
    return (
        scored.crossJoin(F.broadcast(edges))
        .select("doc_id", "score", phase.alias("phase"))
        .groupBy("phase")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("score").cast("long").alias("min_score"),
            F.max("score").cast("long").alias("max_score"),
            F.min("doc_id").cast("long").alias("first_doc"),
        )
        .orderBy("phase")
    )


FILTER_FUNNEL_ORACLE = """
-- Quality-filter funnel report: three sequential gates (too-short,
-- low-alpha-fraction, low-stopword-share) with FIRST-FAIL
-- attribution -- the why-was-it-dropped accounting that accompanies
-- any corpus filter stack (per-rule drop counts must sum with
-- survivors to the corpus total, proven in-plan). One map-side pass
-- computes each doc's first failing rule; the funnel is a rollup of
-- the 4-value attribution domain.
WITH scored AS (
  SELECT CASE
           WHEN n_chars < 100 THEN 1
           WHEN LENGTH(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0
                / LENGTH(text) < 0.6 THEN 2
           WHEN len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                    x -> x IN ('the','and','of','to','in','a','is','for')))
                * 1.0
                / len(regexp_split_to_array(trim(text), '\\s+')) < 0.03
                THEN 3
           ELSE 0
         END AS ff
  FROM documents
), cnt AS (
  SELECT ff, COUNT(*) AS n FROM scored GROUP BY ff
), tot AS (
  SELECT SUM(n) AS total,
         SUM(CASE WHEN ff = 0 THEN n ELSE 0 END) AS survivors
  FROM cnt
)
SELECT CAST(tot.total AS BIGINT)     AS n_total,
       CAST(COALESCE(MAX(CASE WHEN ff = 1 THEN n END), 0) AS BIGINT)
                                     AS drop_too_short,
       CAST(COALESCE(MAX(CASE WHEN ff = 2 THEN n END), 0) AS BIGINT)
                                     AS drop_low_alpha,
       CAST(COALESCE(MAX(CASE WHEN ff = 3 THEN n END), 0) AS BIGINT)
                                     AS drop_low_stopword,
       CAST(tot.survivors AS BIGINT) AS n_surviving,
       ROUND(tot.survivors * 1.0 / tot.total, 6) AS survival_rate,
       (COALESCE(MAX(CASE WHEN ff = 1 THEN n END), 0)
        + COALESCE(MAX(CASE WHEN ff = 2 THEN n END), 0)
        + COALESCE(MAX(CASE WHEN ff = 3 THEN n END), 0)
        + tot.survivors = tot.total) AS accounting_ok
FROM cnt CROSS JOIN tot GROUP BY tot.total, tot.survivors
"""


@register("pipeline_filter_funnel_report", oracle=FILTER_FUNNEL_ORACLE)
def pipeline_filter_funnel_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Filter-stack funnel accounting: each document is attributed to
    its FIRST failing quality gate (too-short, low alpha fraction,
    low stopword share) or to the survivor pool, and the report
    proves in-plan that per-rule drops + survivors equal the corpus
    total — the audit trail a production filter chain publishes with
    every corpus release. Scale shape: the whole rule battery is one
    map-side JVM expression (regexp + array HOFs, no Python row
    path), one Exchange to the 4-row attribution rollup."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    stop = F.array(
        *[F.lit(s) for s in ("the", "and", "of", "to", "in", "a", "is", "for")]
    )
    stop_share = F.size(
        F.filter(toks, lambda x: F.array_contains(stop, x))
    ) / F.size(toks)
    alpha_frac = F.length(
        F.regexp_replace("text", "[^A-Za-z]", "")
    ) / F.length("text")
    ff = (
        F.when(F.col("n_chars") < 100, 1)
        .when(alpha_frac < 0.6, 2)
        .when(stop_share < 0.03, 3)
        .otherwise(0)
    )
    cnt = docs.select(ff.alias("ff")).groupBy("ff").agg(
        F.count(F.lit(1)).alias("n")
    )
    pick = lambda k: F.coalesce(  # noqa: E731
        F.max(F.when(F.col("ff") == k, F.col("n"))), F.lit(0)
    ).cast("long")
    return cnt.agg(
        F.sum("n").cast("long").alias("n_total"),
        pick(1).alias("drop_too_short"),
        pick(2).alias("drop_low_alpha"),
        pick(3).alias("drop_low_stopword"),
        pick(0).alias("n_surviving"),
        F.round(pick(0) / F.sum("n"), 6).alias("survival_rate"),
        (
            pick(1) + pick(2) + pick(3) + pick(0) == F.sum("n")
        ).alias("accounting_ok"),
        # n_total IS NULL <=> zero documents: the oracle's grouped
        # report has no rows there, so the funnel emits none either
        # (empty-corpus sweep, round 14); no-op on any real corpus
    ).filter(F.col("n_total").isNotNull())


SOURCE_CAP_ORACLE = """
-- Per-source quota sampling: cap any single source at 5% of the
-- corpus (cap = ceil(0.05 * N) as exact integer math), keeping the
-- highest-quality documents first (n_chars DESC, doc_id tiebreak) —
-- the anti-domination guard every mixture pipeline applies before
-- training (one crawl dump must not swamp the mix; the selection
-- complement of pipeline_domain_resample's rate-based approach).
-- Reports per-source kept counts and the selection boundary.
WITH tot AS (
  SELECT COUNT(*) AS n FROM documents
), ranked AS (
  SELECT source, n_chars, doc_id,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS rn
  FROM documents
), capped AS (
  SELECT r.source, r.n_chars,
         CAST(FLOOR((t.n + 19) / 20.0) AS BIGINT) AS cap,
         CASE WHEN r.rn <= FLOOR((t.n + 19) / 20.0) THEN 1 ELSE 0 END AS kept
  FROM ranked r CROSS JOIN tot t
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       MIN(cap) AS cap,
       CAST(SUM(kept) AS BIGINT) AS n_kept,
       CAST(MIN(CASE WHEN kept = 1 THEN n_chars END) AS BIGINT)
         AS min_kept_chars,
       FLOOR((SUM(kept) * 1.0 / COUNT(*)) * 10000 + 0.5) / 10000
         AS kept_share
FROM capped GROUP BY source ORDER BY source
"""


@register("pipeline_source_cap_sample", oracle=SOURCE_CAP_ORACLE)
def pipeline_source_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus cap (no source exceeds 5% of documents),
    keeping highest-quality docs first — the anti-domination guard
    applied before mixture weighting so one crawl dump cannot swamp
    the training mix.

    Scale shape: one shuffle by source for the per-source
    ROW_NUMBER (the partitioned window is embarrassingly parallel —
    no global sort), the corpus count broadcasts as one long, and
    the report aggregation reuses the same source partitioning. Cap
    arithmetic is exact integer math (ceil via (n+19)/20 under
    FLOOR) so the kept set is identical across engines."""
    # persist the 3-column projection: the corpus count and the
    # ranked pass both read it (else two parquet scans)
    docs = cached(load_table(spark, sf_dir, "documents", parallel=False).select(
        "source", "n_chars", "doc_id"
    ))
    tot = docs.agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), "doc_id")
    ranked = docs.select(
        "source", "n_chars", F.row_number().over(w).alias("rn")
    ).crossJoin(F.broadcast(tot))
    cap = F.floor((F.col("n") + 19) / 20.0).cast("long")
    capped = ranked.select(
        "source",
        "n_chars",
        cap.alias("cap"),
        (F.col("rn") <= cap).cast("int").alias("kept"),
    )
    return (
        capped.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("cap").alias("cap"),
            F.sum("kept").cast("long").alias("n_kept"),
            F.min(F.when(F.col("kept") == 1, F.col("n_chars")))
            .cast("long")
            .alias("min_kept_chars"),
            snap(F.sum("kept") * 1.0 / F.count(F.lit(1)), 4).alias("kept_share"),
        )
        .orderBy("source")
    )


# ------------------------ wave 21: token-budget water-filling

WATERFILL_ORACLE = """
-- Token-budget water-filling: allocate a global training-token
-- budget (60% of the corpus here) across sources as
-- alloc_i = min(tokens_i, lambda), with the water level lambda
-- chosen so the allocations exactly exhaust the budget — the
-- closed-form fair allocator behind 'cap the big sources, keep the
-- small ones whole' mixture policies (the capped-proportional
-- complement of pipeline_domain_mixture_weights). EXACT device:
-- sort sources by token count ascending; with prefix sums P_j, the
-- saturation point is the LARGEST j with P_j + (m-j)*t_j <= B
-- (all integers), and lambda = (B - P_j)/(m - j) is one exact IEEE
-- division. No iteration — the classic O(m log m) closed form.
WITH tok AS (
  SELECT source,
         CAST(SUM(CASE WHEN TRIM(text) = '' THEN 0
                  ELSE LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\\s+'))
                  END) AS BIGINT) AS t
  FROM documents GROUP BY source
), tot AS (
  SELECT CAST(FLOOR(SUM(t) * 0.6) AS BIGINT) AS b,
         COUNT(*) AS m
  FROM tok
), ranked AS (
  SELECT source, t,
         ROW_NUMBER() OVER (ORDER BY t, source) AS j,
         SUM(t) OVER (ORDER BY t, source) AS p
  FROM tok
), seg AS (
  SELECT COALESCE(MAX(CASE WHEN p + (m - j) * t <= b THEN j END), 0) AS j0
  FROM ranked, tot
), lvl AS (
  SELECT (b - COALESCE((SELECT p FROM ranked WHERE j = j0), 0)) * 1.0
           / (m - j0) AS lam
  FROM seg, tot
)
SELECT source,
       CAST(t AS BIGINT) AS n_tokens,
       FLOOR(LEAST(t * 1.0, lam) * 10000 + 0.5) / 10000 AS allocation,
       CASE WHEN t * 1.0 <= lam THEN 1 ELSE 0 END AS kept_whole
FROM ranked, lvl
ORDER BY source
"""


@register("pipeline_token_budget_waterfill", oracle=WATERFILL_ORACLE)
def pipeline_token_budget_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form water-filling of a 60%-of-corpus token budget
    across sources (see oracle).

    Scale shape: one fact pass to |sources| token totals (map-side
    combined; the token count is size(split) — no explode); the
    water-level solve is a window scan over the m-row source table.
    At 100 TB m is tens-to-thousands of sources — domain-sized
    forever. All saturation decisions compare exact integers; lambda
    is the single float, identical both engines."""
    docs = load_table(spark, sf_dir, "documents", parallel=True)
    tok = docs.groupBy("source").agg(
        F.sum(
            F.when(F.trim("text") == "", 0).otherwise(
                F.size(F.split(F.trim("text"), r"\s+"))
            )
        )
        .cast("long")
        .alias("t")
    )
    tot = tok.agg(
        F.floor(F.sum("t") * 0.6).cast("long").alias("b"),
        F.count(F.lit(1)).alias("m"),
    )
    wj = Window.orderBy("t", "source")
    ranked = checkpointed(tok.select(
        "source",
        "t",
        F.row_number().over(wj).alias("j"),
        F.sum("t").over(wj.rowsBetween(Window.unboundedPreceding, 0)).alias("p"),
    ))  # two consumers: segment solve + final projection
    seg = (
        ranked.crossJoin(F.broadcast(tot))
        .agg(
            F.coalesce(
                F.max(
                    F.when(
                        F.col("p") + (F.col("m") - F.col("j")) * F.col("t")
                        <= F.col("b"),
                        F.col("j"),
                    )
                ),
                F.lit(0),
            ).alias("j0")
        )
    )
    pj0 = (
        ranked.join(F.broadcast(seg), F.col("j") == F.col("j0"))
        .agg(F.coalesce(F.max("p"), F.lit(0)).alias("pj0"))
    )
    lvl = (
        tot.crossJoin(seg)
        .crossJoin(pj0)
        .select(
            (
                (F.col("b") - F.col("pj0")) * 1.0 / (F.col("m") - F.col("j0"))
            ).alias("lam")
        )
    )
    return (
        ranked.crossJoin(F.broadcast(lvl))
        .select(
            "source",
            F.col("t").cast("long").alias("n_tokens"),
            snap(F.least(F.col("t") * 1.0, F.col("lam")), 4).alias("allocation"),
            F.when(F.col("t") * 1.0 <= F.col("lam"), 1)
            .otherwise(0)
            .alias("kept_whole"),
        )
        .orderBy("source")
    )


# -------------------- wave 25: Neyman stratified sample allocation

NEYMAN_ORACLE = """
-- Neyman-optimal allocation of a 10,000-document sampling budget
-- across sources: n_h proportional to N_h * S_h (stratum size times
-- stratum std of document length) — the variance-minimizing way to
-- spend an eval/annotation budget, vs the proportional allocation
-- a naive sampler uses (proportional over-samples big LOW-variance
-- strata). Integer largest-remainder rounding makes the allocations
-- sum to the budget EXACTLY and deterministically (remainder desc,
-- source asc). EXACT device: per-stratum (N_h, sum, sum^2 WIDE) are
-- exact integers; S_h enters through one sqrt per stratum; weights
-- are snapped to 1e-9 integers before the shares so the rounding
-- comparison is exact-integer in both engines.
WITH s AS (
  SELECT source, COUNT(*) AS nh,
         CAST(SUM(n_chars) AS BIGINT) AS sx,
         SUM(CAST(n_chars AS HUGEINT) * n_chars) AS qx
  FROM documents GROUP BY source
), w AS (
  SELECT source, nh,
         CAST(FLOOR(nh * SQRT(qx * 1.0 / nh
                              - (sx * 1.0 / nh) * (sx * 1.0 / nh))
                    * 1000000000 + 0.5) AS HUGEINT) AS w9
  FROM s
), tot AS (
  SELECT CAST(SUM(w9) AS HUGEINT) AS tw9 FROM w
), base AS (
  SELECT source, nh, w9,
         CAST((w9 * 10000) // tw9 AS BIGINT) AS alloc0,
         CAST((w9 * 10000) % tw9 AS HUGEINT) AS rem
  FROM w, tot
), short AS (
  SELECT CAST(10000 - SUM(alloc0) AS BIGINT) AS k FROM base
), ranked AS (
  SELECT source, nh, alloc0,
         ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rn
  FROM base
)
SELECT source,
       CAST(nh AS BIGINT) AS n_docs,
       CAST(alloc0 + CASE WHEN rn <= (SELECT k FROM short)
                          THEN 1 ELSE 0 END AS BIGINT) AS sample_quota
FROM ranked ORDER BY source
"""


@register("pipeline_neyman_allocation", oracle=NEYMAN_ORACLE)
def pipeline_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sampling quotas per source for a
    10k-doc budget (see oracle) — the variance-minimizing partner of
    pipeline_stratified_sample's proportional scheme.

    Scale shape: one corpus pass to per-source exact moments
    (map-side combined; sum of n_chars^2 WIDE); weights, shares and
    largest-remainder rounding all run on the |sources| domain with
    integer comparisons (w9/rem are snapped exact integers), so the
    quota vector is deterministic and sums to the budget by
    construction."""
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("nh"),
        F.sum("n_chars").cast("long").alias("sx"),
        F.sum(F.col("n_chars").cast("decimal(38,0)") * F.col("n_chars")).alias(
            "qx"
        ),
    )
    nh, sx, qx = F.col("nh"), F.col("sx"), F.col("qx")
    w = s.select(
        "source",
        "nh",
        fixed(nh * F.sqrt(qx * 1.0 / nh - (sx * 1.0 / nh) * (sx * 1.0 / nh)), 9)
        .cast("decimal(38,0)")
        .alias("w9"),
    )
    w_all = Window.partitionBy(F.lit(1))
    base = w.select(
        "source",
        "nh",
        F.sum("w9").over(w_all).alias("tw9"),
        "w9",
    ).select(
        "source",
        "nh",
        # integral `div`, not floor(decimal /): Spark's decimal
        # division rounds to a bounded result scale BEFORE a floor
        # could act, which can flip a quotient sitting within 1e-6
        # of an integer; `div` is exact integer division like the
        # oracle's HUGEINT //
        F.expr("(w9 * 10000) div tw9").cast("long").alias("alloc0"),
        F.expr("w9 * 10000 - ((w9 * 10000) div tw9) * tw9").alias("rem"),
    )
    base2 = base.select(
        "*",
        (F.lit(10000) - F.sum("alloc0").over(w_all)).alias("k"),
        F.row_number()
        .over(Window.orderBy(F.col("rem").desc(), "source"))
        .alias("rn"),
    )
    return base2.select(
        "source",
        F.col("nh").cast("long").alias("n_docs"),
        (
            F.col("alloc0")
            + F.when(F.col("rn") <= F.col("k"), 1).otherwise(0)
        )
        .cast("long")
        .alias("sample_quota"),
    ).orderBy("source")


# ---------------------------------- wave 26: l-diversity audit

L_DIVERSITY_ORACLE = """
-- l-diversity audit on the SAME quasi-identifier classes as the
-- k-anonymity operator (nation, balance band, market segment), with
-- order priority of the customer's orders as the SENSITIVE
-- attribute: a class that is k-anonymous but where everyone shares
-- one sensitive value still leaks it (the homogeneity attack
-- k-anonymity cannot see); distinct-l-diversity requires >= l
-- distinct sensitive values per class. l = 3 here. Per-nation
-- accounting mirrors the k-anonymity output shape so the two
-- release gates read side by side.
WITH cls AS (
  SELECT c.c_nationkey,
         CAST(FLOOR(c.c_acctbal / 2000) AS INT) AS bal_band,
         c.c_mktsegment,
         COUNT(*) AS n_rows,
         COUNT(DISTINCT o.o_orderpriority) AS l_div
  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2, 3
)
SELECT c_nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(SUM(CASE WHEN l_div < 3 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating_classes,
       CAST(SUM(CASE WHEN l_div < 3 THEN n_rows ELSE 0 END) AS BIGINT)
         AS n_exposed_rows,
       CAST(MIN(l_div) AS BIGINT) AS min_l,
       MIN(l_div) >= 3 AS l3_diverse
FROM cls GROUP BY c_nationkey ORDER BY c_nationkey
"""


@register("quality_l_diversity", oracle=L_DIVERSITY_ORACLE)
def quality_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-l-diversity audit (l=3) over the k-anonymity QI
    classes with order priority as the sensitive attribute (see
    oracle) — catches the homogeneity attack k-anonymity misses.

    Scale shape: the customer-orders join is keyed on custkey
    (co-partitioned); one aggregation to QI classes with a
    count_distinct over the 5-value sensitive domain (exact, tiny
    per-group state); per-nation accounting is domain-sized."""
    c = load_table(spark, sf_dir, "customer", parallel=False)
    o = load_table(spark, sf_dir, "orders", parallel=False)
    cls = (
        c.join(o, o.o_custkey == c.c_custkey)
        .groupBy(
            "c_nationkey",
            F.floor(F.col("c_acctbal") / 2000).cast("int").alias("bal_band"),
            "c_mktsegment",
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct("o_orderpriority").alias("l_div"),
        )
    )
    viol = F.col("l_div") < 3
    return (
        cls.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_classes"),
            F.sum(F.when(viol, 1).otherwise(0))
            .cast("long")
            .alias("n_violating_classes"),
            F.sum(F.when(viol, F.col("n_rows")).otherwise(0))
            .cast("long")
            .alias("n_exposed_rows"),
            F.min("l_div").cast("long").alias("min_l"),
            (F.min("l_div") >= 3).alias("l3_diverse"),
        )
        .orderBy("c_nationkey")
    )


# --------------------------------- wave 28: t-closeness audit

T_CLOSENESS_ORACLE = """
-- t-closeness audit on the SAME quasi-identifier classes as the
-- k-anonymity / l-diversity gates (nation, balance band, market
-- segment; order priority sensitive): l-diversity counts distinct
-- sensitive values but a class can hold >= l values in WILDLY
-- skewed proportions and still leak (the skewness attack);
-- t-closeness bounds the total-variation distance between each
-- class's sensitive DISTRIBUTION and the global one. EXACT device:
-- all class terms share denominator 2*N_g*N, so
--   TV_g = (N*N_g + SUM_obs(|c_gi*N - C_i*N_g| - C_i*N_g))
--          / (2*N_g*N)
-- (missing-priority terms contribute C_i*N_g, folded in via
-- SUM_all C_i = N, so no dense class x sensitive completion is ever
-- built); the numerator is an exact HUGEINT and TV is one fixed
-- division, snapped. t = 0.2.
WITH base AS (
  SELECT c.c_nationkey,
         CAST(FLOOR(c.c_acctbal / 2000) AS INT) AS bal_band,
         c.c_mktsegment, o.o_orderpriority AS sens
  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
), gd AS (
  SELECT sens, CAST(COUNT(*) AS BIGINT) AS ci FROM base GROUP BY sens
), nt AS (
  SELECT CAST(SUM(ci) AS BIGINT) AS nn FROM gd
), obs AS (
  SELECT c_nationkey, bal_band, c_mktsegment, sens,
         CAST(COUNT(*) AS BIGINT) AS cgi
  FROM base GROUP BY 1, 2, 3, 4
), ngt AS (
  SELECT c_nationkey, bal_band, c_mktsegment,
         CAST(SUM(cgi) AS BIGINT) AS ng
  FROM obs GROUP BY 1, 2, 3
), cls AS (
  SELECT o.c_nationkey, o.bal_band, o.c_mktsegment, g2.ng,
         SUM(ABS(CAST(o.cgi AS HUGEINT) * nt.nn
                 - CAST(g.ci AS HUGEINT) * g2.ng)
             - CAST(g.ci AS HUGEINT) * g2.ng) AS adj
  FROM obs o
  JOIN gd g USING (sens)
  JOIN ngt g2 USING (c_nationkey, bal_band, c_mktsegment)
  CROSS JOIN nt
  GROUP BY 1, 2, 3, 4
), tv AS (
  SELECT c_nationkey,
         FLOOR(((CAST(nt.nn AS HUGEINT) * ng + adj) * 1.0
                / (2.0 * ng * nt.nn)) * 1000000 + 0.5)
           / 1000000 AS tvd,
         ng
  FROM cls CROSS JOIN nt
)
SELECT c_nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(SUM(CASE WHEN tvd > 0.2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating_classes,
       CAST(SUM(CASE WHEN tvd > 0.2 THEN ng ELSE 0 END) AS BIGINT)
         AS n_exposed_rows,
       FLOOR(MAX(tvd) * 1000000 + 0.5) / 1000000 AS max_tvd
FROM tv GROUP BY c_nationkey ORDER BY c_nationkey
"""


@register("quality_t_closeness", oracle=T_CLOSENESS_ORACLE)
def quality_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (t=0.2, total-variation distance) over the
    k-anonymity QI classes with order priority sensitive (see
    oracle) — the release gate above l-diversity: >= l distinct
    values in skewed proportions still leak.

    Scale shape: one custkey-co-partitioned join, one aggregation to
    (QI class, sensitive) cells, the 5-row global distribution
    broadcasts back, one class-keyed aggregation. The shared-
    denominator algebra keeps every per-cell term an exact
    decimal(38,0) product (HUGEINT in the oracle) — no float until
    the final snapped division. Missing-cell terms fold in
    algebraically (SUM_all C_i = N), so no dense class x sensitive
    completion is ever materialized — the same device as
    text_word_burstiness."""
    c = load_table(spark, sf_dir, "customer", parallel=False)
    o = load_table(spark, sf_dir, "orders", parallel=False)
    base = c.join(o, o.o_custkey == c.c_custkey).select(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 2000).cast("int").alias("bal_band"),
        "c_mktsegment",
        F.col("o_orderpriority").alias("sens"),
    )
    obs = base.groupBy(
        "c_nationkey", "bal_band", "c_mktsegment", "sens"
    ).agg(F.count(F.lit(1)).alias("cgi"))
    glob = obs.groupBy("sens").agg(F.sum("cgi").cast("long").alias("ci"))
    nn = glob.agg(F.sum("ci").cast("long").alias("nn"))
    wd = (
        obs.join(F.broadcast(glob), "sens")
        .crossJoin(F.broadcast(nn))
        .withColumn(
            "ngw",
            F.sum("cgi").over(
                Window.partitionBy(
                    "c_nationkey", "bal_band", "c_mktsegment"
                )
            ),
        )
    )
    term = F.abs(
        F.col("cgi").cast("decimal(38,0)") * F.col("nn")
        - F.col("ci").cast("decimal(38,0)") * F.col("ngw")
    ) - F.col("ci").cast("decimal(38,0)") * F.col("ngw")
    cls = wd.groupBy(
        "c_nationkey", "bal_band", "c_mktsegment", "ngw", "nn"
    ).agg(F.sum(term).alias("adj"))
    tvd = snap(
        (
            F.col("nn").cast("decimal(38,0)") * F.col("ngw")
            + F.col("adj")
        )
        * 1.0
        / (2.0 * F.col("ngw") * F.col("nn")),
        6,
    )
    tv = cls.select(
        "c_nationkey", tvd.alias("tvd"), F.col("ngw").alias("ng")
    )
    return (
        tv.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_classes"),
            F.sum(F.when(F.col("tvd") > 0.2, 1).otherwise(0))
            .cast("long")
            .alias("n_violating_classes"),
            F.sum(F.when(F.col("tvd") > 0.2, F.col("ng")).otherwise(0))
            .cast("long")
            .alias("n_exposed_rows"),
            snap(F.max("tvd"), 6).alias("max_tvd"),
        )
        .orderBy("c_nationkey")
    )


# --------------------------------- wave 28: hash train/test split

SPLIT_HASH_ORACLE = """
-- Deterministic train/test split by portable multiplicative hash
-- (Knuth 2654435761 on doc_id, mod 1000; < 800 -> train): THE
-- pipeline primitive every training run starts with — splits must
-- be reproducible across engines/runs/machines, which rules out
-- rand() and engine-builtin hashes. doc_id * 2654435761 stays exact
-- in BIGINT to doc_id ~ 3.5e9 (documented cutover to a 128-bit
-- device beyond). Per-source accounting so sampling skew across
-- sources is visible at a glance.
WITH tagged AS (
  SELECT source,
         (doc_id * 2654435761) % 1000 < 800 AS is_train,
         n_chars
  FROM documents
)
SELECT source,
       CAST(SUM(CASE WHEN is_train THEN 1 ELSE 0 END) AS BIGINT)
         AS n_train,
       CAST(SUM(CASE WHEN is_train THEN 0 ELSE 1 END) AS BIGINT)
         AS n_test,
       CAST(SUM(CASE WHEN is_train THEN n_chars ELSE 0 END) AS BIGINT)
         AS train_chars,
       FLOOR(SUM(CASE WHEN is_train THEN 1 ELSE 0 END) * 1.0
             / COUNT(*) * 1000000 + 0.5) / 1000000 AS train_frac
FROM tagged GROUP BY source ORDER BY source
"""


@register("pipeline_train_test_split_hash", oracle=SPLIT_HASH_ORACLE)
def pipeline_train_test_split_hash(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Reproducible 80/20 train/test split via portable
    multiplicative hash of doc_id, with per-source accounting (see
    oracle) — rand()/engine hashes can never be re-verified across
    engines or runs; a fixed integer hash can.

    Scale shape: one map-only expression per row, one source-keyed
    partial aggregation — nothing fact-sized ever shuffles. The
    split column is exactly what a writer would partition on
    (.partitionBy('is_train')), making the split a property of the
    LAYOUT rather than of a run."""
    docs = load_table(spark, sf_dir, "documents", parallel=False)
    is_train = (F.col("doc_id") * F.lit(2654435761)) % 1000 < 800
    tagged = docs.select(
        "source", is_train.alias("is_train"), "n_chars"
    )
    return (
        tagged.groupBy("source")
        .agg(
            F.sum(F.when(F.col("is_train"), 1).otherwise(0))
            .cast("long")
            .alias("n_train"),
            F.sum(F.when(F.col("is_train"), 0).otherwise(1))
            .cast("long")
            .alias("n_test"),
            F.sum(F.when(F.col("is_train"), F.col("n_chars")).otherwise(0))
            .cast("long")
            .alias("train_chars"),
            snap(
                F.sum(F.when(F.col("is_train"), 1).otherwise(0))
                * 1.0
                / F.count(F.lit(1)),
                6,
            ).alias("train_frac"),
        )
        .orderBy("source")
    )


ESS_WEIGHT_ORACLE = """
-- Effective sample size (Kish) and concentration diagnostics of the
-- corpus LENGTH-weight distribution: if documents are sampled (or
-- packed, or loss-weighted) proportional to token count, ESS =
-- (sum w)^2 / sum w^2 says how many EFFECTIVE documents the corpus
-- contributes — the first number to check before trusting any
-- length-weighted mixture (a few mega-documents can silently
-- collapse a million-doc corpus to a few thousand effective ones).
-- Published alongside: the max single-document share and the
-- top-10-document share (deterministic (w, doc_id) tie-break).
-- EXACT device: token counts are exact integers; sum w and the
-- WIDE sum w^2 are order-free; every output is one snapped
-- division.
WITH w AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
           AS tok
  FROM documents
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(tok) AS HUGEINT) AS s,
         CAST(SUM(CAST(tok AS HUGEINT) * tok) AS HUGEINT) AS ss,
         CAST(MAX(tok) AS BIGINT) AS mx
  FROM w
), top10 AS (
  SELECT CAST(SUM(tok) AS HUGEINT) AS t10 FROM (
    SELECT tok FROM w ORDER BY tok DESC, doc_id LIMIT 10
  )
)
SELECT n_docs,
       CAST(s AS BIGINT) AS total_tokens,
       FLOOR(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(ss AS DOUBLE)
             * 10000 + 0.5) / 10000 AS ess,
       FLOOR(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(ss AS DOUBLE)
             / n_docs * 1000000 + 0.5) / 1000000 AS ess_ratio,
       FLOOR(mx * 1.0 / CAST(s AS DOUBLE) * 1000000 + 0.5) / 1000000
         AS max_doc_share,
       FLOOR(CAST(t10 AS DOUBLE) / CAST(s AS DOUBLE) * 1000000 + 0.5)
         / 1000000 AS top10_share
FROM tot, top10
"""


@register("pipeline_length_weight_ess", oracle=ESS_WEIGHT_ORACLE)
def pipeline_length_weight_ess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kish effective sample size + concentration of the corpus
    length-weight distribution (see oracle for why this gates any
    length-weighted sampling/packing decision).

    Scale shape: one corpus pass to per-doc token counts (map-side
    size() on the split — no explode); the moments reduce in one
    Exchange (WIDE sum of squares); top-10 is a bounded sort-limit.
    Every published number is a snapped division of exact
    integers."""
    docs = load_table(spark, sf_dir, "documents")
    w = cached(docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+"))
        .cast("long")
        .alias("tok"),
    ))
    tok = F.col("tok")
    tot = w.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(tok).cast("decimal(38,0)").alias("s"),
        F.sum(tok.cast("decimal(38,0)") * tok).alias("ss"),
        F.max(tok).cast("long").alias("mx"),
    )
    top10 = (
        w.orderBy(F.desc("tok"), F.asc("doc_id"))
        .limit(10)
        .agg(F.sum("tok").cast("decimal(38,0)").alias("t10"))
    )
    s = F.col("s").cast("double")
    ss = F.col("ss").cast("double")
    ess = s * s / ss
    return tot.crossJoin(F.broadcast(top10)).select(
        "n_docs",
        F.col("s").cast("long").alias("total_tokens"),
        snap(ess, 4).alias("ess"),
        snap(ess / F.col("n_docs"), 6).alias("ess_ratio"),
        snap(F.col("mx") * 1.0 / s, 6).alias("max_doc_share"),
        snap(F.col("t10").cast("double") / s, 6).alias("top10_share"),
    )


# ------------- wave 41: deterministic weighted priority sampling

PRIORITY_SAMPLE_ORACLE = """
-- Weighted sampling without replacement, Efraimidis-Spirakis form:
-- each doc gets priority u^(1/w) with u uniform and w its token
-- count; the top-k priorities ARE a w-weighted sample without
-- replacement (the A-ES result) — the one-pass, merge-friendly way
-- to draw a length-weighted training subset. Determinism device:
-- u comes from the house portable polynomial hash of the doc id
-- (acc*31 + codepoint mod 2^31-1 — the rolling-fingerprint family;
-- engine RNGs and builtin hashes can never be oracle-checked), so
-- both engines draw the SAME sample. Priorities snap to 1e-9
-- integers before ranking (libm pow last-ulp rule), ties break on
-- doc_id.
WITH w AS (
  SELECT doc_id, source,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(generate_series(1, length(CAST(doc_id AS VARCHAR))),
                            i -> CAST(ascii(CAST(doc_id AS VARCHAR)[i]) AS BIGINT))),
           (acc, c) -> (acc * 31 + c) % 2147483647) AS h
  FROM documents WHERE trim(text) <> ''
), keyed AS (
  SELECT doc_id, source, n_tokens,
         CAST(FLOOR(POWER((h + 1) / 2147483648.0, 1.0 / n_tokens)
                    * 1000000000 + 0.5) AS BIGINT) AS priority9
  FROM w
)
SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens, priority9
FROM keyed
ORDER BY priority9 DESC, doc_id
LIMIT 20
"""


@register("pipeline_weighted_priority_sample", oracle=PRIORITY_SAMPLE_ORACLE)
def pipeline_weighted_priority_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Deterministic Efraimidis-Spirakis length-weighted sample of
    the corpus (see oracle for the statistic and the hash device).

    Scale shape: ONE map-only pass computes each doc's priority
    (token count + a fixed-order codepoint fold over the doc-id
    string — pure JVM char math, no Python); the global top-20 is
    TakeOrderedAndProject, i.e. per-partition top-k then a 20-row
    driver merge — nothing corpus-sized ever shuffles, which is
    exactly why A-ES is the standard distributed weighted sampler
    (priorities merge across partitions/streams by simple max-k).
    At 100 TB the same plan holds; k and the weight column are the
    only knobs. Companion to pipeline_source_cap_sample (hash-mod
    uniform caps) and pipeline_length_weight_ess (what a weighted
    sample's effective size is)."""
    docs = load_table(spark, sf_dir, "documents")
    idstr = F.col("doc_id").cast("string")
    code = lambda ch: F.ascii(ch).cast("long")
    h = F.aggregate(
        F.split(idstr, ""),
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * 31 + code(ch)) % 2147483647,
    )
    n_tokens = F.size(tokens("text"))
    keyed = docs.filter(F.trim("text") != "").select(
        "doc_id",
        "source",
        n_tokens.cast("long").alias("n_tokens"),
        fixed(F.pow((h + 1) / 2147483648.0, 1.0 / n_tokens), 9).alias("priority9"),
    )
    return keyed.orderBy(F.col("priority9").desc(), "doc_id").limit(20)
