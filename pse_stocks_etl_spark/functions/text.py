"""Text-analysis column expressions for the LLM-data-pipeline surface.

All built-in JVM-side expressions (split/regexp/md5/conv) — no Python
UDFs — so the whole text path stays inside whole-stage codegen and every
function has an exact ANSI-SQL twin for the DuckDB oracle.

Deterministic hashing: both engines compute md5 identically; taking the
first 15 hex chars as a base-16 BIGINT gives a portable 60-bit hash
(Spark: conv(substr(md5(x),1,15),16,10) cast long; DuckDB:
('0x'||substr(md5(x),1,15))::BIGINT). xxhash64/hash() would be faster
but are engine-specific.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

WS = r"\s+"


def tokens(col: Column) -> Column:
    """Whitespace tokenization of trimmed, lowercased text."""
    return F.split(F.trim(F.lower(col)), WS)


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def portable_hash64(col: Column) -> Column:
    """60-bit md5-derived hash, identical in Spark and DuckDB."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercase text
    (stable under reflow/extra spacing)."""
    return F.md5(F.regexp_replace(F.trim(F.lower(col)), WS, " "))


def shingles_from_tokens(tk: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a PRE-PROJECTED tokens column.

    `tk` must be a materialized column (select tokens(...) first), not a
    raw split expression: higher-order lambdas evaluate interpreted, and
    an embedded split would re-tokenize per element — O(tokens²) regex
    work per document. Built with indexed transform + try_element_at
    (O(1) per lookup), NOT per-index slice()+concat_ws (slicing copies
    O(len) per shingle — 4× slower at sf0.1)."""

    def gram(x: Column, i: Column) -> Column:
        parts = [x] + [F.try_element_at(tk, i + k + 1) for k in range(1, n)]
        return F.concat_ws(" ", *parts)

    return F.array_distinct(
        F.slice(F.transform(tk, gram), 1, F.greatest(F.size(tk) - (n - 1), F.lit(0)))
    )


def punct_count(col: Column) -> Column:
    return F.length(col) - F.length(F.regexp_replace(col, r"[\p{Punct}]", ""))


def stopword_count(col: Column, words: tuple[str, ...]) -> Column:
    pat = r"\b(" + "|".join(words) + r")\b"
    return F.regexp_count(F.lower(col), F.lit(pat))


# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Order matters: ties break toward the earlier language.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "de": ("der", "die", "und", "ist", "von"),
    "es": ("el", "la", "de", "que", "es"),
    "fr": ("le", "la", "et", "de", "est"),
    "zh": ("de", "le", "shi", "zai", "he"),
}


# ---- DuckDB oracle twins -------------------------------------------------

def sql_tokens(expr: str) -> str:
    return f"string_split_regex(trim(lower({expr})), '\\s+')"


def sql_token_count(expr: str) -> str:
    return f"len({sql_tokens(expr)})"


def sql_portable_hash64(expr: str) -> str:
    return f"(('0x' || substr(md5({expr}), 1, 15)))::BIGINT"


def sql_fingerprint(expr: str) -> str:
    return f"md5(regexp_replace(trim(lower({expr})), '\\s+', ' ', 'g'))"


def sql_word_shingles(expr: str, n: int = 3) -> str:
    toks = f"string_split_regex(trim(lower({expr})), '\\s+')"
    return (
        f"list_distinct(list_transform(range(1, greatest(len({toks}) - {n - 1}, 0) + 1), "
        f"i -> array_to_string(({toks})[i:i+{n - 1}], ' ')))"
    )


def sql_punct_count(expr: str) -> str:
    return f"(length({expr}) - length(regexp_replace({expr}, '[[:punct:]]', '', 'g')))"


def sql_stopword_count(expr: str, words: tuple[str, ...]) -> str:
    pat = r"\b(" + "|".join(words) + r")\b"
    return f"len(regexp_extract_all(lower({expr}), '{pat}'))"
