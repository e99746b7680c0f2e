"""Text-analysis column functions for the training-data pipeline tier
(BASELINE.json north star): tokenization, quality scoring, language
ID, fingerprinting.

Everything here is a pure Catalyst expression (regexp + higher-order
array functions) — no Python in the hot path — with the exact same
formula mirrored in the DuckDB oracle SQL (plans/queries_text.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: token = maximal run of non-whitespace (same regex in both engines;
#: avoids split()'s engine-specific trailing-empty behavior).
TOKEN_RE = r"\S+"

#: small stopword lists for the n-gram language-ID heuristic.
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "on", "for", "with"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con", "para"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "fur", "auf", "ein"],
    "fr": ["le", "les", "des", "et", "une", "est", "que", "pour", "dans", "sur"],
}


#: GPT-2-style pretokenizer, ASCII-simplified and lookahead-free so
#: the exact same pattern runs in Java regex and DuckDB's RE2:
#: contraction suffixes, space-prefixed letter runs, digit runs,
#: punctuation runs, residual whitespace.
BPE_RE = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+|\s+"


def tokens(text: Column) -> Column:
    """All whitespace-delimited tokens, in order."""
    return F.regexp_extract_all(text, F.lit(TOKEN_RE), 0)


def prefix_digest(text: Column) -> Column:
    """md5 of the first 8 tokens: the C4-style leading-boilerplate key
    of the ingest-dedup digest index (the oracle SQL spells out the
    same formula)."""
    return F.md5(F.concat_ws(" ", F.slice(tokens(text), 1, 8)))


def token_count(text: Column) -> Column:
    return F.size(tokens(text)).cast("long")


def bpe_token_count(text: Column) -> Column:
    """Approximate LLM-token count: number of BPE-pretokenizer pieces
    (a cheap, vectorized stand-in for a real tokenizer's length — the
    usual budget/pricing proxy in training-data pipelines)."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_RE), 0)).cast("long")


def char_class_ratio(text: Column, keep_class: str) -> Column:
    """Fraction of characters matching a regex class, e.g. '[A-Za-z]'.

    Total on empty strings: 0.0 (code-review r05 — a bare division
    raises DIVIDE_BY_ZERO under Spark 4's ANSI default and silently
    NULLs the composite quality score otherwise; registry call sites
    filter empties, but the library function must not rely on it)."""
    kept = F.length(F.regexp_replace(text, f"[^{keep_class[1:-1]}]", ""))
    n = F.length(text)
    return F.when(n > 0, kept / n).otherwise(F.lit(0.0))


def stopword_hits(text: Column, words: list[str]) -> Column:
    """Number of tokens that are in ``words`` (case-sensitive; callers
    lowercase first)."""
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(tokens(text), lambda t: F.array_contains(arr, t)))


def quality_score(text: Column) -> Column:
    """Composite document-quality heuristic in [0, 1]:
    0.5·alpha_ratio + 0.3·(1 − digit_ratio) + 0.2·min(1, n_tokens/50).

    The exact formula (including operand order) is mirrored in the
    oracle SQL so the rounded double hashes identically.
    """
    alpha = char_class_ratio(text, "[A-Za-z]")
    digit = char_class_ratio(text, "[0-9]")
    length_term = F.least(F.lit(1.0), token_count(text) / F.lit(50.0))
    return alpha * 0.5 + (F.lit(1.0) - digit) * 0.3 + length_term * 0.2


def predict_lang(text: Column) -> Column:
    """Stopword-count language ID with a fixed tie-break priority
    (en > es > de > fr; 'und' when nothing matched)."""
    lowered = F.lower(text)
    scores = {
        lang: stopword_hits(lowered, words) for lang, words in STOPWORDS.items()
    }
    s = scores
    return (
        F.when(text.isNull(), "und")  # NULL scores skip every branch →
        # would otherwise fall through to the otherwise('fr') default
        .when(
            (s["en"] == 0) & (s["es"] == 0) & (s["de"] == 0) & (s["fr"] == 0), "und"
        )
        .when((s["en"] >= s["es"]) & (s["en"] >= s["de"]) & (s["en"] >= s["fr"]), "en")
        .when((s["es"] >= s["de"]) & (s["es"] >= s["fr"]), "es")
        .when(s["de"] >= s["fr"], "de")
        .otherwise("fr")
    )


def fingerprint(text: Column) -> Column:
    """Normalized-content fingerprint: md5 of the text lowered and
    stripped to [a-z0-9] — whitespace/punctuation-insensitive identity
    for near-exact dedup.

    NULL when the normalization leaves nothing (code-review r05):
    every all-punctuation or non-Latin-script document used to
    collapse to md5('') — a dedup keyed on the fingerprint would have
    deleted unrelated CJK/Cyrillic documents as "duplicates" of each
    other. NULL keys drop out of equi-joins and count_distinct (NOT of
    groupBy, which collects all NULLs into one group — dedup keyed on
    this fingerprint must use a join/window over non-NULL rows), the
    correct semantics for "no normalized content"."""
    norm = F.regexp_replace(F.lower(text), "[^a-z0-9]", "")
    return F.when(F.length(norm) > 0, F.md5(norm))
