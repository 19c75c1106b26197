"""Text analysis primitives for training-data pipelines.

All hot-path functions are pure Column expressions (JVM codegen, no
Python workers): normalization, tokenization, language-ID scoring,
quality metrics, fingerprinting, and a portable 48-bit md5-derived hash
that evaluates identically in Spark SQL and DuckDB (the oracle's
independent witness).

Scale notes: everything here is embarrassingly parallel per-row — no
shuffle, no state. At 100 TB these run at parquet-scan speed; the only
cost knob is regex complexity.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# ---------------------------------------------------------------------------
# portable 48-bit hash: first 12 hex chars of md5, as a non-negative bigint
# ---------------------------------------------------------------------------


def hash48(col: Column) -> Column:
    """Deterministic 48-bit hash of a string column (Spark side).

    Spark's builtin hash()/xxhash64() have no DuckDB twin, so differential
    oracles use md5 (bit-identical everywhere) truncated to 48 bits —
    small enough for exact BIGINT arithmetic in both engines.
    """
    return F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("long")


def hash48_sql_duckdb(expr: str) -> str:
    return f"(('0x' || substr(md5({expr}), 1, 12))::BIGINT)"


def hash60(col: Column) -> Column:
    """Deterministic 60-bit hash (first 15 hex chars of md5).

    60 bits — not 64 — so the value (and anything built from per-bit
    majority votes over it, like SimHash) stays strictly positive in a
    signed BIGINT in BOTH engines: a 16-hex-char prefix can exceed
    2^63-1, turning into sign-extension traps for ``>>`` / ``bit_count``
    differential oracles.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


# ---------------------------------------------------------------------------
# normalization / tokenization
# ---------------------------------------------------------------------------


def normalize_text(col: Column) -> Column:
    """Lowercase + collapse whitespace + trim: the canonical form used by
    dedup fingerprints and shingles."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


NORMALIZE_SQL = "trim(regexp_replace(lower({expr}), '\\s+', ' ', 'g'))"  # DuckDB needs 'g'
NORMALIZE_SQL_SPARK = "trim(regexp_replace(lower({expr}), '\\\\s+', ' '))"


def tokens(col: Column) -> Column:
    """Whitespace tokenization of normalized text -> array<string>."""
    return F.split(normalize_text(col), " ")


# marker stopwords per language for the n-gram/stopword LID heuristic.
# Tiny on purpose: the point is the *operator shape* (per-language score ->
# deterministic argmax), swappable for real profiles.
LID_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "in"),
    "de": ("der", "die", "und", "nicht", "ist", "das"),
    "es": ("el", "la", "que", "los", "es", "una"),
    "fr": ("le", "les", "des", "est", "dans", "une"),
    "zh": ("的", "是", "不", "了", "在", "我"),
}
LID_ORDER = tuple(sorted(LID_MARKERS))  # deterministic argmax preference


def lid_score(toks: Column, lang: str) -> Column:
    """Count of marker-token hits for one language (duplicates count)."""
    markers = LID_MARKERS[lang]
    return F.size(F.filter(toks, lambda t: t.isin(*markers)))


def lid_predict(score_cols: dict[str, Column]) -> Column:
    """Deterministic argmax over per-language scores.

    Ties break by LID_ORDER; all-zero scores -> 'und' (undetermined).
    """
    best = F.greatest(*score_cols.values())
    expr = F.when(best == 0, "und")
    for lang in LID_ORDER:
        expr = expr.when(score_cols[lang] == best, lang)
    return expr.otherwise("und")


# BPE-ish token pattern: letter runs, single digits, single punctuation.
BPE_PATTERN = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"
PUNCT_CLASS = "[.,!?;:]"


def word_count(col: Column) -> Column:
    return F.size(tokens(col))


def bpe_token_count(col: Column) -> Column:
    return F.regexp_count(col, F.lit(BPE_PATTERN))


def punct_ratio(col: Column) -> Column:
    n_punct = F.length(col) - F.length(F.regexp_replace(col, PUNCT_CLASS, ""))
    return n_punct.cast("double") / F.greatest(F.length(col), F.lit(1)).cast("double")


def avg_word_len(col: Column) -> Column:
    toks = tokens(col)
    total = F.aggregate(F.transform(toks, F.length), F.lit(0), lambda acc, x: acc + x)
    return total.cast("double") / F.greatest(F.size(toks), F.lit(1)).cast("double")


def stopword_ratio(col: Column) -> Column:
    """Fraction of tokens that are (English) marker stopwords — a crude
    fluency proxy used by the quality score."""
    toks = tokens(col)
    return lid_score(toks, "en").cast("double") / F.greatest(F.size(toks), F.lit(1)).cast("double")


def fingerprint(col: Column) -> Column:
    """Content fingerprint: md5 of normalized text (exact-dedup key)."""
    return F.md5(normalize_text(col))


