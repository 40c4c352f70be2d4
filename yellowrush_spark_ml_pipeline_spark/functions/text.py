"""Text primitives for the LLM-data-pipeline operators (SURVEY.md §2.13).

All JVM-side column expressions (split / regexp / hash built-ins) — the
hot path of a 100 TB dedup run is tokenization + hashing, and keeping it
inside codegen is the difference between CPU-bound and Python-IPC-bound.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_PATTERN = r"[^\p{L}\p{N}]+"  # split on any non-letter/digit run
# BPE-ish word/number/punct tokenizer for token counting
BPE_ISH_PATTERN = r"\p{L}+|\p{N}+|[^\p{L}\p{N}\s]"


def tokens(text: Column) -> Column:
    """Lowercased word tokens; empty strings filtered (split artifacts)."""
    return F.filter(
        F.split(F.lower(text), TOKEN_PATTERN), lambda t: t != F.lit("")
    )


def whitespace_token_count(text: Column) -> Column:
    return F.size(F.filter(F.split(text, r"\s+"), lambda t: t != F.lit("")))


def bpe_ish_token_count(text: Column) -> Column:
    """Count of word/number/punctuation tokens — a cheap proxy for LLM
    tokenizer counts (regexp, no Python)."""
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(BPE_ISH_PATTERN), 0))


def shingles(tok: Column, n: int = 3) -> Column:
    """Word n-gram shingles from a token array.

    Implemented as ONE codegen regex pass over the space-joined tokens:
    a zero-width lookahead `(?<=^| )(?=(tok tok ... tok))` captures every
    overlapping n-gram at token boundaries. This replaced a
    transform(sequence, i -> concat_ws(slice)) HOF that was 13× slower at
    sf0.1 — Catalyst evaluates higher-order-function lambdas interpreted
    (no whole-stage codegen), so per-element slice+concat dominated every
    shingle consumer (minhash, repetition, decontamination).

    Precondition: elements of ``tok`` contain no spaces — true for
    `tokens()` output (split on non-alphanumerics), the only producer
    used with this function. Short-array semantics preserved: fewer than
    ``n`` tokens yield ONE truncated shingle (the whole array joined),
    empty arrays yield []."""
    joined = F.concat_ws(" ", tok)
    pat = r"(?<=^| )(?=(" + " ".join(["[^ ]+"] * n) + r"))"
    return F.when(
        F.size(tok) >= n,
        F.regexp_extract_all(joined, F.lit(pat), 1),
    ).otherwise(
        F.filter(F.array(joined), lambda s: s != F.lit(""))
    )


def char_ngrams(text: Column, n: int = 5) -> Column:
    """Overlapping character n-grams — same codegen-regex strategy as
    `shingles` (a `(?=(.{n}))` lookahead captures at every offset), with
    the HOF fallback only for the sub-n-length edge (one truncated
    shingle, matching the old transform-over-substr semantics)."""
    norm = F.lower(F.regexp_replace(text, r"\s+", " "))
    return F.when(
        F.length(norm) >= n,
        F.regexp_extract_all(norm, F.lit(r"(?s)(?=(.{%d}))" % n), 1),
    ).otherwise(F.array(norm))


def rolling_fingerprint(text: Column) -> Column:
    """Deterministic 64-bit document fingerprint: xxhash64 of the
    whitespace-normalized lowercased text."""
    return F.xxhash64(F.lower(F.regexp_replace(text, r"\s+", " ")))
