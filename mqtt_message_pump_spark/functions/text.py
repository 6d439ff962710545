"""Text analysis for training-data pipelines: token counting, quality
scoring, language-ID heuristics, document fingerprinting.

Everything here is a pure Catalyst array/string expression -- no UDFs, so
the whole stage codegens and runs at scan speed; at 100 TB these are
narrow maps with zero shuffle.  Each helper has an exact DuckDB-SQL twin
used by the registered oracle queries.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

FINGERPRINT_PRIME = 1_000_000_007

# Tiny per-language stopword profiles for the heuristic language ID.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to"),
    "es": ("el", "la", "de", "los", "que"),
    "de": ("der", "die", "das", "und", "ist"),
}

STOPWORDS: tuple[str, ...] = LANG_PROFILES["en"]


def tokens(text: Column) -> Column:
    return F.split(text, " ")


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text))


def regex_token_count(text: Column, pattern: str = "[A-Za-z0-9]+") -> Column:
    """BPE-ish token estimate: count alnum runs (a cheap proxy for
    subword tokenizers; the pattern is RE2/Java-compatible on purpose)."""
    return F.regexp_count(text, F.lit(pattern))


def _word_alt_pattern(words: tuple[str, ...]) -> str:
    # \b-anchored alternation: one codegen'd regex pass instead of a
    # per-token interpreted lambda (higher-order functions don't codegen).
    # Tokens are whitespace-separated words, so each token matches at most
    # once in both Java regex (Spark) and RE2 (DuckDB).
    return r"\b(" + "|".join(words) + r")\b"


def stopword_count(text: Column, stopwords: tuple[str, ...] = STOPWORDS) -> Column:
    return F.regexp_count(text, F.lit(_word_alt_pattern(stopwords)))


def quality_score(text: Column) -> Column:
    """Deterministic quality score in [0, 1]: blends mean token length
    (capped), stopword ratio, and a length factor.  Arithmetic is written
    with fixed parenthesization so Spark and DuckDB produce the identical
    IEEE double."""
    n_tok = token_count(text).cast("double")
    n_char = F.length(text).cast("double")
    n_stop = stopword_count(text).cast("double")
    mean_tok_len = n_char / n_tok
    stop_ratio = n_stop / n_tok
    len_factor = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    cap = F.least(mean_tok_len / F.lit(10.0), F.lit(1.0))
    return (cap + stop_ratio) * F.lit(0.5) * len_factor


def lang_scores(text: Column) -> dict[str, Column]:
    return {
        lang: F.regexp_count(text, F.lit(_word_alt_pattern(words)))
        for lang, words in LANG_PROFILES.items()
    }


def lang_id(text: Column) -> Column:
    """Heuristic language ID: argmax of per-language stopword hit counts,
    deterministic tie-break in profile order (en > es > de)."""
    s = lang_scores(text)
    return (
        F.when((s["en"] >= s["es"]) & (s["en"] >= s["de"]), "en")
        .when(s["es"] >= s["de"], "es")
        .otherwise("de")
    )


def fingerprint(text: Column, prime: int = FINGERPRINT_PRIME) -> Column:
    """Polynomial rolling-hash document fingerprint over tokens:
    ``acc = (acc * 31 + (7 * len(tok) + ascii(tok[0]))) mod p``.
    Order-sensitive (unlike a bag-of-words hash), overflow-free in int64,
    and reproducible in DuckDB via list_reduce."""
    contribs = F.transform(
        tokens(text), lambda t: (F.length(t) * 7 + F.ascii(t)).cast("long")
    )
    return F.aggregate(
        contribs,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x) % F.lit(prime).cast("long"),
    )


# DuckDB twins (format with {text} = column name) -------------------------

SQL_TOKEN_COUNT = "len(string_split({text}, ' '))"
SQL_REGEX_TOKEN_COUNT = "len(regexp_extract_all({text}, '[A-Za-z0-9]+'))"
SQL_STOPWORD_COUNT = (
    "len(regexp_extract_all({text}, '\\b(" + "|".join(STOPWORDS) + ")\\b'))"
)
SQL_QUALITY_SCORE = (
    "(least((CAST(length({text}) AS DOUBLE) / n_tok) / 10.0, 1.0)"
    " + (n_stop / n_tok)) * 0.5 * least(n_tok / 100.0, 1.0)"
)
SQL_FINGERPRINT = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(string_split({text}, ' '), "
    "t -> CAST(length(t) * 7 + unicode(t) AS BIGINT))), "
    "(acc, x) -> (acc * 31 + x) % 1000000007)"
)


def sql_lang_score(text: str, lang: str) -> str:
    words = "|".join(LANG_PROFILES[lang])
    return f"len(regexp_extract_all({text}, '\\b({words})\\b'))"
