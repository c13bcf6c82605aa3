"""Text-analysis functions for training-data pipelines.

All pure built-in expressions (JVM-side, whole-stage codegen) — no UDFs:
token counting, quality scoring, n-gram-heuristic language ID, and
document fingerprinting. Each has an exact ANSI-SQL twin for the DuckDB
correctness gate.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# deterministic mini stopword lists for the language-ID heuristic
STOPWORDS = {
    "en": ("the", "a", "of", "and"),
    "es": ("el", "la", "de", "y"),
    "de": ("der", "die", "das", "und"),
    "fr": ("le", "la", "de", "et"),
}


def token_count(text: Column) -> Column:
    """Whitespace token count (empty string -> 0)."""
    return F.when(F.length(F.trim(text)) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim(text), " +"))
    )


def word_count_regex(text: Column) -> Column:
    """BPE-ish word-piece count: alphanumeric runs via regexp."""
    return F.size(F.regexp_extract_all(text, F.lit(r"[A-Za-z0-9]+"), F.lit(0)))


def distinct_token_ratio(text: Column) -> Column:
    """Lexical diversity: |set(tokens)| / |tokens|, rounded 3dp."""
    toks = F.split(F.trim(text), " +")
    return F.round(F.size(F.array_distinct(toks)) / F.size(toks), 3)


def quality_score(text: Column) -> Column:
    """Composite quality heuristic in [0,1]: length band + diversity -
    the shape of a C4/Gopher-style filter, deterministic and portable."""
    n = token_count(text)
    len_ok = F.when((n >= 10) & (n <= 1000), F.lit(0.5)).otherwise(F.lit(0.0))
    diversity = distinct_token_ratio(text) * 0.5
    return F.round(len_ok + diversity, 3)


def lang_id(text: Column) -> Column:
    """Stopword-vote language ID: argmax language by stopword hits,
    ties broken by language code order, 'und' when no hits."""
    toks = F.split(F.lower(F.trim(text)), " +")

    def _in_set(sw):
        # closure factory: a default-arg lambda would read as a 2-arg
        # higher-order-function lambda to pyspark
        return lambda t: t.isin(*sw)

    scores = [
        (lang, F.size(F.filter(toks, _in_set(sw))))
        for lang, sw in sorted(STOPWORDS.items())
    ]
    best_score = F.greatest(*[s for _, s in scores])
    out = F.lit("und")
    # reversed: earlier langs win ties by overwriting later ones
    for lang, s in reversed(scores):
        out = F.when((s == best_score) & (best_score > 0), F.lit(lang)).otherwise(out)
    return out


def fingerprint(text: Column) -> Column:
    """Canonical-form document fingerprint: lowercase, collapse
    whitespace, md5. Stable dedup key across formatting variants."""
    norm = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    return F.md5(norm)


def word_bigrams(text: Column) -> Column:
    """Array of space-joined word bigrams (empty tokens dropped).

    Pure array expressions — zip_with over two shifted slices — so the
    n-gram build never leaves whole-stage codegen. Docs with < 2 words
    yield an empty array."""
    w = F.filter(F.split(text, " "), lambda t: t != "")
    n = F.size(w)
    return F.when(n < 2, F.array().cast("array<string>")).otherwise(
        F.zip_with(
            F.slice(w, 1, n - 1),
            F.slice(w, 2, n - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    )
