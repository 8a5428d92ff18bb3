"""Text expressions for the analysis/dedup operators — JVM built-ins
only (split / transform / aggregate / regexp), designed so the exact
same computation is expressible in ANSI SQL for the DuckDB oracle."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

# "BPE-ish" pre-tokenizer: word pieces or single non-space symbols —
# the standard approximation for token-count estimation without a real
# BPE vocab (which would be a lookup table join, not a regex).
BPE_ISH_PATTERN = r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"


def _c(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _starts(length: Column, n: int) -> Column:
    """1-based start positions of every length-n window: [1 ..
    length-n+1], empty when length < n. sequence(1, 0) DESCENDS in
    Spark, so a short input needs the guard, not a clamp to zero."""
    return F.when(length >= n, F.sequence(F.lit(1), length - (n - 1))).otherwise(
        F.array().cast("array<int>")
    )


def tokens(col: str | Column) -> Column:
    """Whitespace tokens of trimmed text ('' → empty array)."""
    t = F.trim(_c(col))
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def token_count(col: str | Column) -> Column:
    return F.size(tokens(col))


def word_windows_from(tok_col: str | Column, n: int) -> Column:
    """Every space-joined window of n adjacent tokens, in token order
    with repeats kept, from an ALREADY-MATERIALIZED token-array column
    (the word_ngrams_from hot-path contract); empty below n tokens."""
    toks = _c(tok_col)
    return F.transform(
        _starts(F.size(toks), n),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + k) for k in range(n)]),
    )


def word_ngrams_from(tok_col: str | Column, n: int = 3) -> Column:
    """Distinct word n-grams from an ALREADY-MATERIALIZED token-array
    column (the unit for Jaccard dedup).

    HOT-PATH CONTRACT: ``tok_col`` must be a real column produced by a
    prior ``.select(tokens(text).alias(...))`` projection, NOT an inline
    ``tokens(text)`` expression. HOFs run interpreted (no codegen, no
    common-subexpression elimination), so an inline expression would be
    re-evaluated by the ``element_at`` inside the lambda for EVERY gram
    of every document — O(tokens²) regex splits per row. Measured at
    sf0.1 (interleaved A/B): trigram explosion 8.1s → 0.6s,
    contamination curve 16.5s → 1.3s just from materializing first.
    Because the token column is referenced ≥3 times here (two size()
    calls plus the lambda), Catalyst's CollapseProject keeps the
    producing projection separate — the split runs exactly once per row.

    Empty when the row has fewer than n tokens (see _starts).
    """
    return F.array_distinct(word_windows_from(tok_col, n))


def adjacent_bigrams(tok_col: str | Column) -> Column:
    """struct(w1, w2) per adjacent token pair, in token order with
    repeats kept, from an ALREADY-MATERIALIZED token-array column (the
    word_ngrams_from hot-path contract); empty below two tokens."""
    toks = _c(tok_col)
    return F.transform(
        _starts(F.size(toks), 2),
        lambda i: F.struct(
            F.element_at(toks, i).alias("w1"),
            F.element_at(toks, i + 1).alias("w2"),
        ),
    )


def char_shingles_from(trimmed_col: str | Column, k: int = 5) -> Column:
    """Distinct k-char shingles from an ALREADY-MATERIALIZED trimmed-text
    column (MinHash input); same empty-when-short guard — and the same
    hot-path contract — as word_ngrams_from: pass a real column, not an
    inline trim(text) expression, or the substring in the lambda
    re-evaluates it per shingle."""
    t = _c(trimmed_col)
    return F.array_distinct(
        F.transform(_starts(F.length(t), k), lambda i: F.substring(t, i, k))
    )


def rolling_fingerprint(col: str | Column) -> Column:
    """Order-sensitive document fingerprint: polynomial rolling hash of
    token lengths+initials folded mod 1e9+7 — cheap, deterministic, and
    expressible as list_reduce in the oracle."""
    toks = tokens(col)
    contrib = F.transform(
        toks, lambda t: (F.length(t) * 131 + F.coalesce(F.ascii(t), F.lit(0))).cast("long")
    )
    return F.aggregate(
        contrib,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x) % 1000000007,
    )
