"""Text-analysis column expressions — all JVM-side (whole-stage codegen).

Large-scale training-data pipeline functions over a ``documents``-style
table: token counting, quality scoring, language-ID heuristic, document
fingerprinting. No Python UDFs on this path — every expression compiles to
Catalyst built-ins so a 100 TB scan stays inside codegen.

Each builder has an exactly-matching ANSI-SQL twin in ``__spark_entry__.py``
oracles (portable constructs only: length/replace/regexp/aggregate).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# deliberately small, fixed stopword list (quality scoring heuristic)
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is"]

# BPE-ish token pattern: letter runs, single digits, single punctuation
BPE_TOKEN_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"

CJK_PATTERN = r"[぀-ヿ㐀-鿿]"

_POLY_MOD = 1_000_000_007
_POLY_BASE = 31


def ws_token_count(col: Column) -> Column:
    """Whitespace token count; 0 for empty/blank strings."""
    trimmed = F.trim(col)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


def bpe_token_count(col: Column) -> Column:
    """Sub-word-ish token estimate via the BPE-like regex."""
    return F.size(F.regexp_extract_all(col, F.lit(BPE_TOKEN_PATTERN), F.lit(0)))


def punct_ratio(col: Column) -> Column:
    n_punct = F.size(
        F.regexp_extract_all(col, F.lit(r"[^A-Za-z0-9\s]"), F.lit(0))
    )
    return n_punct / F.greatest(F.length(col), F.lit(1))


def stopword_ratio(col: Column) -> Column:
    """Fraction of whitespace tokens that are stopwords."""
    toks = F.split(F.trim(col), r"\s+")
    hits = F.size(F.filter(toks, lambda t: F.lower(t).isin(STOPWORDS)))
    return hits / F.greatest(F.size(toks), F.lit(1))


def avg_word_len(col: Column) -> Column:
    toks = F.split(F.trim(col), r"\s+")
    total = F.aggregate(
        toks, F.lit(0), lambda acc, t: acc + F.length(t)
    )
    return total / F.greatest(F.size(toks), F.lit(1))


def quality_score(col: Column) -> Column:
    """Composite [0,1] quality heuristic: long enough, low punct, some
    stopwords, sane word length."""
    length_ok = F.least(F.length(col) / F.lit(200.0), F.lit(1.0))
    punct_pen = F.lit(1.0) - F.least(punct_ratio(col) * 5.0, F.lit(1.0))
    stop_ok = F.least(stopword_ratio(col) * 4.0, F.lit(1.0))
    wl = avg_word_len(col)
    wl_ok = F.when((wl >= 3) & (wl <= 10), F.lit(1.0)).otherwise(F.lit(0.5))
    return (length_ok + punct_pen + stop_ok + wl_ok) / F.lit(4.0)


def lang_guess(col: Column) -> Column:
    """n-gram/charset language heuristic: CJK chars → 'cjk'; stopword hits →
    'en'; else 'other'."""
    has_cjk = F.size(F.regexp_extract_all(col, F.lit(CJK_PATTERN), F.lit(0))) > 0
    return (
        F.when(has_cjk, F.lit("cjk"))
        .when(stopword_ratio(col) > 0, F.lit("en"))
        .otherwise(F.lit("other"))
    )


# PII scrub patterns — deliberately lookaround-free so the same pattern is
# valid in Java regex (Spark) and RE2 (DuckDB) with identical match sets
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_PATTERN = r"https?://[^\s]+"
LONG_DIGIT_PATTERN = r"[0-9]{9,}"


def pii_counts(col: Column) -> tuple[Column, Column, Column]:
    """(n_emails, n_urls, n_idnums): match counts for the three scrub
    patterns, counted BEFORE redaction (a URL may contain digit runs; the
    counts are per-pattern over the raw text, the redaction is ordered)."""
    return (
        F.size(F.regexp_extract_all(col, F.lit(EMAIL_PATTERN), F.lit(0))),
        F.size(F.regexp_extract_all(col, F.lit(URL_PATTERN), F.lit(0))),
        F.size(F.regexp_extract_all(col, F.lit(LONG_DIGIT_PATTERN), F.lit(0))),
    )


def redact_pii(col: Column) -> Column:
    """Training-data PII scrub: URLs, then emails, then ≥9-digit runs are
    replaced with typed placeholder tokens. Order matters (URLs may embed
    emails/digits); all-JVM regexp_replace, no UDF — a 100 TB scan stays in
    codegen. The DuckDB twin is regexp_replace(..., 'g') with identical
    RE2-safe patterns."""
    out = F.regexp_replace(col, URL_PATTERN, "<URL>")
    out = F.regexp_replace(out, EMAIL_PATTERN, "<EMAIL>")
    return F.regexp_replace(out, LONG_DIGIT_PATTERN, "<NUM>")


def md5_fingerprint(col: Column) -> Column:
    """Canonical exact-dup fingerprint: md5 of lower(trim(text))."""
    return F.md5(F.lower(F.trim(col)))


def poly_hash(col: Column, base: int = _POLY_BASE, mod: int = _POLY_MOD) -> Column:
    """Portable polynomial rolling hash over characters:
    ``h = (h*base + codepoint) % mod``. Identical arithmetic is expressible
    in DuckDB (list_reduce) — used wherever a cross-engine-stable hash is
    needed (minhash seeds, fingerprints)."""
    chars = F.filter(F.split(col, ""), lambda c: F.length(c) > 0)
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * base + F.ascii(c)) % mod,
    )
