"""Text-analysis expressions for large-scale training-data pipelines.

All pure Column expressions (regexp/split/aggregate — JVM-side), so
they run inside whole-stage codegen over a 100 TB `documents` scan.
The reference has no text ops beyond ``sanitize_string``
(/root/reference/dasladen/util/sanitize_string.py:4-17); these are the
north-star extensions from BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: small per-language stopword probes for the n-gram/lexicon heuristic
LANG_MARKERS: dict[str, str] = {
    "en": r"\b(the|and|of|is|to)\b",
    "es": r"\b(el|la|de|que|los)\b",
    "fr": r"\b(le|les|des|est|une)\b",
    "de": r"\b(der|die|und|ist|das)\b",
    "zh": r"(的|是|了|在|和)",
}


#: the word-token pattern: lower-cased ASCII letter/digit runs
_TOK_RE = "[a-z0-9]+"


def tokens_col(text_col: str = "text") -> Column:
    """Lower-cased word tokens as an array column (JVM regex, no UDF)."""
    return F.regexp_extract_all(F.lower(text_col), F.lit(_TOK_RE), F.lit(0))


def token_count(text: Column) -> Column:
    """Whitespace token count (empty/blank text → 0)."""
    trimmed = F.trim(text)
    return F.when(trimmed == "", F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


def normalize_text(text: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, strip everything
    but word chars, collapse runs of whitespace."""
    t = F.lower(text)
    t = F.regexp_replace(t, r"[^a-z0-9\s]", " ")
    return F.trim(F.regexp_replace(t, r"\s+", " "))


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text.
    Exact-dup detection survives case/punctuation/whitespace noise."""
    return F.md5(normalize_text(text))


def quality_score(text: Column) -> Column:
    """Heuristic document quality in [0, 1]: blends alpha density,
    token-length sanity, and non-repetition. Deterministic scalar
    math only (single rounding at the end keeps the DuckDB oracle
    bit-identical)."""
    n_chars = F.length(text).cast("double")
    n_alpha = F.regexp_count(text, F.lit(r"[A-Za-z]")).cast("double")
    n_tok = token_count(text).cast("double")
    safe_chars = F.greatest(n_chars, F.lit(1.0))
    safe_tok = F.greatest(n_tok, F.lit(1.0))
    alpha_ratio = n_alpha / safe_chars
    avg_tok_len = n_alpha / safe_tok
    # ideal avg token length ~5 chars; quadratic falloff
    len_term = F.greatest(
        F.lit(0.0), F.lit(1.0) - (avg_tok_len - F.lit(5.0)) * (avg_tok_len - F.lit(5.0)) / F.lit(25.0)
    )
    # distinct \S+ runs, the oracle's spelling: splitting a blank text
    # yields [""], which would count one token where there is none
    n_distinct_tok = F.size(
        F.array_distinct(F.regexp_extract_all(text, F.lit(r"\S+"), F.lit(0)))
    ).cast("double")
    distinct_ratio = n_distinct_tok / safe_tok
    return F.round(
        F.lit(0.5) * alpha_ratio + F.lit(0.25) * len_term + F.lit(0.25) * distinct_ratio,
        4,
    )


def lang_scores(text: Column) -> dict[str, Column]:
    """Per-language stopword-probe hit counts (the n-gram heuristic's
    lexicon half). Returns {lang: count Column}."""
    return {
        lang: F.regexp_count(F.lower(text), F.lit(pat))
        for lang, pat in LANG_MARKERS.items()
    }


def lang_id(text: Column) -> Column:
    """Predicted language = argmax of the marker counts, ties broken
    by fixed lang order, 'und' when no marker hits at all."""
    scores = lang_scores(text)
    best = F.greatest(*scores.values())
    out = F.lit("und")
    # reversed so that earlier langs win ties (last when() wins in a
    # coalesce chain; build explicitly instead)
    expr = None
    for lang in LANG_MARKERS:  # first match at max wins
        cond = scores[lang] == best
        expr = F.when(cond, F.lit(lang)) if expr is None else expr.when(cond, F.lit(lang))
    return F.when(best == 0, out).otherwise(expr)


#: GPT-2-style pre-tokenizer pattern, restricted to constructs that
#: behave identically in Java regex (Spark) and RE2 (DuckDB): no
#: lookahead, explicit ASCII classes. Contractions | letter runs |
#: digit runs (optional leading space) | symbol runs.
BPE_PATTERN = r"'(?:s|t|re|ve|m|ll|d)|[A-Za-z]+| ?[0-9]+|[^A-Za-z0-9\s']+"


def bpe_token_count(text: Column) -> Column:
    """BPE-ish subword-boundary token count (the pre-tokenization
    granularity LLM data pipelines budget by) — JVM regexp_count, no
    Python."""
    return F.regexp_count(text, F.lit(BPE_PATTERN))


def word_ngrams(words: Column, n: int) -> Column:
    """Space-joined word n-grams from a WORDS ARRAY column (callers
    must project ``F.split(text, " ")`` into a named column FIRST —
    passing the split expression inline re-evaluates it once per gram
    position inside the higher-order-function lambda, the O(T·|text|)
    re-inlining trap behind the round-6 dedup_winnowing regression).
    Empty array for docs shorter than ``n`` words. This is the
    canonical form of the gram builder the decontamination family
    shares."""
    return F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - (n - 1)),
            lambda i: F.array_join(F.slice(words, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
