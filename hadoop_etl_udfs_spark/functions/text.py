"""Text analysis for training-data pipelines: token counting, quality
scoring, language ID, fingerprinting. All built-in-function compositions
(whole-stage codegen; zero Python in the hot path).

Reference parity: the reference has no text functions — its only string ops
are conversions (SURVEY.md §2.6). These are the §"beyond the reference"
training-data operators.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# tiny per-language stopword markers for the heuristic language ID
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of"],
    "de": ["der", "und", "nicht"],
    "fr": ["le", "les", "et"],
    "es": ["el", "los", "que"],
}


def token_count(text: Column) -> Column:
    """Whitespace token count (empty string -> 0)."""
    t = F.trim(text)
    return F.when(t == "", F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    ).cast("long")


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-ish token estimate: word-pieces of <=4 chars (regexp count).

    ``regexp_count`` is the non-overlapping Java-regex match count. It is
    RuntimeReplaceable: the optimized plan evaluates it as
    ``size(regexp_extract_all(text, pattern, 0))``, so it materializes the
    same array of match strings and is a readability choice, not a speed
    one (oracle-gated via text_stats)."""
    return F.regexp_count(
        text, F.lit(r"[A-Za-z0-9]{1,4}|[^\sA-Za-z0-9]")
    ).cast("long")


def punct_ratio(text: Column) -> Column:
    # count the punct chars directly — length(regexp_replace(text,
    # "[^...]", "")) built a stripped COPY of every row's text only to
    # take its length; the match count is the same integer
    punct = F.regexp_count(text, F.lit(r"[.!?,;:]"))
    return punct / F.greatest(F.length(text), F.lit(1))


def upper_ratio(text: Column) -> Column:
    upper = F.regexp_count(text, F.lit(r"[A-Z]"))
    return upper / F.greatest(F.length(text), F.lit(1))


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    words = LANG_MARKERS[lang]
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    hits = None
    for w in words:
        # regexp_count(" w ") equals the former length-difference form
        # exactly: each non-overlapping match removed len(w)+2 chars, so
        # diff/(len(w)+2) was already the integer match count (as double)
        h = F.regexp_count(padded, F.lit(f" {w} "))
        hits = h if hits is None else hits + h
    return hits / F.greatest(token_count(text), F.lit(1))


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: length band, punctuation presence,
    sane casing, stopword presence."""
    n_tok = token_count(text)
    len_ok = F.when((n_tok >= 10) & (n_tok <= 10_000), 1.0).otherwise(0.3)
    punct_ok = F.when(punct_ratio(text) <= 0.2, 1.0).otherwise(0.5)
    case_ok = F.when(upper_ratio(text) <= 0.3, 1.0).otherwise(0.5)
    stop_ok = F.when(stopword_ratio(text) > 0.01, 1.0).otherwise(0.6)
    return F.round((len_ok + punct_ok + case_ok + stop_ok) / 4.0, 4)


def lang_id(text: Column) -> Column:
    """Heuristic language ID via stopword-marker hit counts (deterministic
    rule, SQL-expressible for the oracle)."""
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))

    def hits(lang: str) -> Column:
        total = None
        for w in LANG_MARKERS[lang]:
            h = F.regexp_count(padded, F.lit(f" {w} "))
            total = h if total is None else total + h
        return total

    scored = F.greatest(*[hits(lg) for lg in LANG_MARKERS])
    out = F.lit("unknown")
    # ties resolve to the first language in iteration order (en, de, fr, es)
    for lg in reversed(list(LANG_MARKERS)):
        out = F.when((hits(lg) > 0) & (hits(lg) == scored), lg).otherwise(out)
    return out


def fingerprint(text: Column) -> Column:
    """Whitespace-normalized md5 document fingerprint (md5 exists in both
    Spark and DuckDB -> oracle-checkable)."""
    return F.md5(F.lower(F.trim(F.regexp_replace(text, r"\s+", " "))))
