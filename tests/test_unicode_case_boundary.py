"""Unicode case-mapping boundary: where Spark and the DuckDB oracle
provably agree, and the four known divergence classes — PINNED.

The engine's text contract tokenizes with trim/LOWER/split
(functions/text.py), and every docs oracle mirrors it with DuckDB's
lower(). The two engines implement DIFFERENT Unicode case algorithms:
Spark (JVM UTF8String → java.lang.String) applies FULL, context-
sensitive case mapping (UTS #21); DuckDB (utf8proc) applies SIMPLE
1:1 code-point mapping. Probed empirically (2026-08, Spark 4.1.2 /
bundled DuckDB):

AGREE (the guaranteed-parity classes, asserted below): ASCII, Latin-1
precomposed accents, combining marks, CJK/astral pass-through,
dotless-ı, capital-sharp-ẞ lower, titlecase digraphs (ǅ), ligature
LOWER, final-sigma-free Greek lower.

DIVERGE (pinned with each engine's exact output, so an upgrade that
moves either side turns this red and the boundary gets re-derived):
  1. upper('ß'): Spark 'SS' (full) vs DuckDB 'ẞ' (simple)
  2. lower('İ'): Spark 'i̇' (i + U+0307, 2 cp) vs DuckDB 'i' (1 cp)
  3. upper('ﬁ'): Spark 'FI' vs DuckDB 'ﬁ' (no simple mapping exists)
  4. lower final sigma: Spark 'ΣΊΣΥΦΟΣ' → '…ος' (context-sensitive ς)
     vs DuckDB '…οσ'

Engine stance (documented, not "fixed": Spark's behavior is the more
correct one and rewriting lower() as a UDF would break §2.10): the
docs-surface oracle gate guarantees byte parity for corpora avoiding
{İ, uppercase Greek words, uppercased ligatures}; lower() never maps
ß (divergence 1 and 3 are UPPER-side, which no registered query
uses — asserted below). Corpora that need those classes should be
NFKC+casefold-normalized at ingest, upstream of the tokenizer.

The whitespace contract has no such boundary: Java's \\s and RE2's
\\s are both ASCII-only, so U+00A0/U+3000 stay inside tokens on both
engines (asserted below).
"""

from __future__ import annotations

import re

import pytest

# AGREE classes: (input, expected lower on BOTH engines)
AGREE_LOWER = [
    ("HELLO World", "hello world"),
    ("HÉLLO WÖRLD NAÏVE", "héllo wörld naïve"),
    ("ẞ", "ß"),  # capital sharp s lowers identically
    ("ı I", "ı i"),  # dotless ı round-trip; plain I is safe
    ("漢字 カタカナ", "漢字 カタカナ"),  # CJK pass-through
    ("🚀😀🎉", "🚀😀🎉"),  # astral pass-through
    ("ǄUNGLA ǅungla", "ǆungla ǆungla"),  # titlecase digraph
    ("ﬁ ﬂ", "ﬁ ﬂ"),  # ligature LOWER is identity on both
    ("σίσυφος", "σίσυφος"),  # already-lower Greek is stable
    ("é É", "é é"),  # combining acute
]

# DIVERGE classes: (fn, input, spark output, duckdb output)
DIVERGE = [
    ("upper", "ß", "SS", "ẞ"),
    ("lower", "İ", "i̇", "i"),
    ("upper", "ﬁ", "FI", "ﬁ"),
    ("lower", "ΣΊΣΥΦΟΣ", "σίσυφος", "σίσυφοσ"),
]


@pytest.fixture(scope="module")
def duck():
    from conftest import capped_duck

    return capped_duck()


def _spark_case(spark, fn: str, s: str) -> str:
    from pyspark.sql import functions as F

    f = F.lower if fn == "lower" else F.upper
    return spark.range(1).select(f(F.lit(s)).alias("x")).collect()[0]["x"]


def _duck_case(duck, fn: str, s: str) -> str:
    return duck.sql(f"SELECT {fn}(?)", params=[s]).fetchone()[0]


@pytest.mark.parametrize("raw,expected", AGREE_LOWER, ids=[r for r, _ in AGREE_LOWER])
def test_lower_agrees_on_the_guaranteed_classes(spark, duck, raw, expected):
    assert _spark_case(spark, "lower", raw) == expected
    assert _duck_case(duck, "lower", raw) == expected


@pytest.mark.parametrize("fn,raw,sp,dk", DIVERGE, ids=[r for _, r, _, _ in DIVERGE])
def test_known_divergences_are_exactly_these(spark, duck, fn, raw, sp, dk):
    """Each side's behavior pinned verbatim: if a Spark or DuckDB
    upgrade changes ANY of these, this goes red and the boundary doc
    above must be re-derived (the calibration-fixture pattern from the
    streaming late-drop oracle)."""
    assert _spark_case(spark, fn, raw) == sp
    assert _duck_case(duck, fn, raw) == dk
    assert sp != dk  # still a real divergence — else move to AGREE


def test_no_registered_oracle_uses_upper():
    """Two of the four divergences are UPPER-side; the engine's text
    contract only lowers. Keep it that way: an oracle that uppercases
    re-opens the ß/ligature hole."""
    from pse_stocks_etl_spark import plans

    offenders = [
        name
        for name, q in plans.REGISTRY.items()
        if q.oracle is not None and re.search(r"\bupper\s*\(", q.oracle, re.I)
    ]
    assert not offenders, offenders


def test_whitespace_split_is_ascii_only_on_both_engines(spark, duck):
    """U+00A0 (nbsp) and U+3000 (ideographic space) are NOT \\s in
    Java regex or RE2 — a token containing them stays ONE token on
    both engines, so the tokenizer contract has no unicode-space
    boundary to document."""
    from pyspark.sql import functions as F

    s = "a b c　d"
    got = (
        spark.range(1)
        .select(F.split(F.trim(F.lower(F.lit(s))), r"\s+").alias("t"))
        .collect()[0]["t"]
    )
    duck_got = duck.sql(
        "SELECT string_split_regex(trim(lower(?)), '\\s+')", params=[s]
    ).fetchone()[0]
    assert got == duck_got == ["a b", "c　d"]
