"""Text analysis operators for large-scale corpus pipelines — language
ID, token counting, PII scrubbing — and the document family's one
whitespace rule.

The operators are pure Column expressions (whole-stage codegen; no
UDF). The scalar surface mirrors the reference's string/regex
normalization family
(SURVEY.md §2.7: lower/trim key normalization cli/session.py:1202-1204,
regex numeric extraction :1271-1291, keyword classification
core/src/physics.rs:446-507, safe-slug trend9.py:267).
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# marker stopwords per language — a deterministic n-gram-style heuristic
# (the keyword→class table idiom of physics.rs:446-507, as a lang table)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "es": ("el", "la", "de", "que", "los"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "les", "des", "est"),
    "no": ("og", "det", "som", "en", "ikke"),
}


# The document family's whitespace rule, as the DuckDB oracle SQL's
# string_split_regex(trim(text), '\s+') applies it. DuckDB's trim strips
# the Unicode space separators (category Zs) from both ends, where
# Spark's trim() strips only U+0020. The split is on RE2's \s, which
# leaves out the U+000B that Java's \s holds, so Spark code must not
# write \s for this rule.
SPACES = " \u00a0\u1680\u2000\u2001\u2002\u2003\u2004\u2005\u2006\u2007\u2008\u2009\u200a\u202f\u205f\u3000"
WHITESPACE = r"[ \t\n\f\r]+"


def trim_spaces(text_col: Column) -> Column:
    """The oracle SQL's ``trim(text)``."""
    return F.trim(text_col, F.lit(SPACES))


def tokens(text_col: Column) -> Column:
    """Whitespace tokens, as the oracle's
    ``string_split_regex(trim(text), '\\s+')``: an empty or all-space
    text is one empty token, and whitespace other than SPACES at an edge
    leaves an empty edge token."""
    return F.split(trim_spaces(text_col), WHITESPACE)


def reference_tokens(text: str) -> list[str]:
    """The Python twin of ``tokens``."""
    return re.split(WHITESPACE, text.strip(SPACES))


def token_count(text_col: Column) -> Column:
    return F.size(tokens(text_col))


def marker_score(text_col: Column, lang: str) -> Column:
    """Count of marker-word hits (word-boundary regex, case-insensitive)."""
    pat = r"(?i)\b(" + "|".join(LANG_MARKERS[lang]) + r")\b"
    return F.regexp_count(text_col, F.lit(pat))


def lang_id(text_col: Column) -> Column:
    """argmax over marker scores; deterministic tie-break = language code
    order; 'und' when every score is 0."""
    scores = [(lang, marker_score(text_col, lang)) for lang in sorted(LANG_MARKERS)]
    best_lang = F.lit("und")
    best_score = F.lit(0)
    # iterate in REVERSE code order so earlier codes win ties
    for lang, score in reversed(scores):
        take = score > F.lit(0)
        better = score >= best_score  # later-assigned (earlier code) wins ties
        best_lang = F.when(take & better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(take & better, score).otherwise(best_score)
    return best_lang


# --------------------------------------------------------------------------
# PII scrubbing — regex surface chosen to behave identically under Java
# regex (Spark) and RE2 (DuckDB oracle): no backrefs, no lookaround
# --------------------------------------------------------------------------
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ipv4", r"\b(\d{1,3}\.){3}\d{1,3}\b", "[IP]"),
    ("phone", r"\+?\d[\d().\- \t\n\f\r]{6,}\d", "[PHONE]"),  # RE2's \s
)


def redact_pii(text_col: Column) -> Column:
    """Replace emails, IPv4 addresses, and phone-like digit runs with
    typed placeholders. Order matters: emails first (they contain dots
    and digits that the later patterns would shred), then IPs, then the
    greedy phone pattern over what remains."""
    out = text_col
    for _, pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def pii_counts(text_col: Column) -> dict[str, Column]:
    """Per-kind match counts, each computed on the text with the EARLIER
    kinds already redacted — otherwise the greedy phone pattern would
    also count every IPv4 (dotted digit runs match it)."""
    out: dict[str, Column] = {}
    cur = text_col
    for kind, pat, repl in PII_PATTERNS:
        out[f"n_{kind}"] = F.regexp_count(cur, F.lit(pat))
        cur = F.regexp_replace(cur, pat, repl)
    return out
