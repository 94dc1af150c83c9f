"""Text-analysis column expressions (training-data-pipeline surface).

All pure built-ins (split/transform/md5/length) so they run JVM-side
and reproduce bit-identically in any engine that implements standard
MD5 + IEEE arithmetic - which is what lets every one of these carry a
DuckDB oracle. Whitespace tokenization is the shared primitive.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small shared stopword list used by quality scoring (order matters
# nowhere; membership only).
STOPWORDS = ("the", "a", "of", "to", "and", "in", "is", "it")


def tokens(text: Column) -> Column:
    """Whitespace tokens; empty/blank text -> empty array (both
    Spark and DuckDB split '' into [''])."""
    return F.when(
        F.length(F.trim(text)) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(F.trim(text), r"\s+"))


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def distinct_token_count(text: Column) -> Column:
    return F.size(F.array_distinct(tokens(text)))


def stopword_count(text: Column, stopwords: tuple[str, ...] = STOPWORDS) -> Column:
    toks = tokens(text)
    return F.size(F.filter(toks, lambda t: t.isin(*stopwords)))


def non_space_chars(text: Column) -> Column:
    return F.length(F.replace(text, F.lit(" "), F.lit("")))


# Marker-word tables for the n-gram/stopword language-ID heuristic.
# Alphabetical language order = deterministic argmax tie-break.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist"),
    "en": ("the", "a", "of", "and", "is"),
    "es": ("el", "los", "las", "y", "es"),
    "fr": ("le", "la", "les", "et", "est"),
}


def lang_marker_count(text: Column, lang: str) -> Column:
    toks = tokens(text)
    markers = LANG_MARKERS[lang]
    return F.size(F.filter(toks, lambda t: t.isin(*markers)))


def lang_id(text: Column) -> Column:
    """Heuristic language ID: argmax of marker-word counts,
    alphabetical tie-break, 'unknown' when no marker hits.

    A real deployment swaps the marker table for character-n-gram
    profiles; the *shape* (per-language score columns -> argmax) is
    identical and stays a pure column expression.
    """
    counts = {lang: lang_marker_count(text, lang) for lang in LANG_MARKERS}
    best = F.greatest(*counts.values())
    expr = F.lit("unknown")
    for lang in sorted(LANG_MARKERS, reverse=True):
        expr = F.when((counts[lang] == best) & (best > 0), lang).otherwise(expr)
    return expr


def shingles(text: Column, n: int = 5) -> Column:
    """Word n-gram shingles; docs with < n tokens get a single
    whole-text shingle (degenerate but well-defined, and identical in
    the oracle - note Spark's sequence(1,0) DESCENDS, so the guard is
    mandatory)."""
    toks = tokens(text)
    n_sh = F.size(toks) - F.lit(n - 1)
    make = F.transform(
        F.sequence(F.lit(1), n_sh),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    return F.when(n_sh >= 1, make).otherwise(F.array(F.trim(text)))


# Character-trigram profiles for the n-gram language-ID variant:
# high-frequency trigrams (space-padded word boundaries as '_') per
# language. A production profile is learned from a corpus; the scoring
# shape - count profile hits over the text's trigram multiset - is
# what matters and is identical.
LANG_TRIGRAMS: dict[str, tuple[str, ...]] = {
    "de": ("der", "ein", "ich", "sch", "und", "en_", "er_", "ch_"),
    "en": ("the", "ing", "and", "ion", "ent", "he_", "ed_", "th_"),
    "es": ("que", "ión", "los", "ent", "ado", "os_", "as_", "la_"),
    "fr": ("les", "ent", "que", "ion", "eur", "es_", "le_", "nt_"),
}


def char_trigrams(text: Column) -> Column:
    """All character trigrams of the text with spaces normalized to
    '_' (so word boundaries participate in the profile). Pure column
    expression: sequence + substring, no UDF."""
    norm = F.regexp_replace(F.trim(text), r"\s+", "_")
    n = F.length(norm)
    return F.when(
        n >= 3,
        F.transform(
            F.sequence(F.lit(1), n - F.lit(2)),
            lambda i: norm.substr(i, F.lit(3)),
        ),
    ).otherwise(F.array())


def lang_trigram_count(text: Column, lang: str) -> Column:
    """How many of the text's trigrams hit the language's profile."""
    markers = LANG_TRIGRAMS[lang]
    return F.size(F.filter(char_trigrams(text), lambda g: g.isin(*markers)))


def lang_id_ngram(text: Column) -> Column:
    """Language ID over character-trigram profiles: same argmax /
    alphabetical-tie-break / unknown-on-zero shape as the marker-word
    variant, scored on trigram hits (the 'n-gram heuristic' proper)."""
    counts = {lang: lang_trigram_count(text, lang) for lang in LANG_TRIGRAMS}
    best = F.greatest(*counts.values())
    expr = F.lit("unknown")
    for lang in sorted(LANG_TRIGRAMS, reverse=True):
        expr = F.when((counts[lang] == best) & (best > 0), lang).otherwise(expr)
    return expr
